"""Inference-diagnostics query family (round 7).

Completes the experimentation surface the round-6 stats family opened:
multiple-testing control (Benjamini-Hochberg), trend tests on ordinal
categories (Cochran-Armitage), resampling variance (jackknife),
model-calibration audits (reliability bins + ECE), sequential change
detection (Page-Hinkley), information gain, and two LLM-data-curation
curves (Good-Turing unseen-mass, the dedup scaling curve). Reference
scope note: the reference pipeline (usnvc/usnvc.py) has no statistics
at all — this family belongs to the mandated LLM-pipeline/analytics
extension surface.

Oracle-parity discipline (memory: oracle-parity rules), same as
plans/stats_queries.py:

- sufficient statistics are EXACT integer/decimal sums; no double is
  ever summed across rows — cross-row float work is micro-scaled to
  integers first (round(x*1e6) BIGINT / DECIMAL(38,0));
- per-row transcendentals (ln/exp) either round to micro before
  summation or feed a single final expression that is the IDENTICAL
  tree on both engines, rounded to 6dp;
- every decision flag (significance, BH rejection, change detection)
  compares ROUNDED values to literals, so both engines decide from
  identical inputs;
- deterministic total ordering everywhere a rank matters.

Scale shape: every query aggregates to a bounded spine (nations,
priorities, frequency-of-frequency ranks, 10 calibration bins, 10
corpus prefixes, the calendar day spine) before any window runs; the
only row-grain operations are the initial groupBys. No data-grain
window, no driver-side loop, no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pipeline_usnvc_spark.plans.registry import _d38, query
from pipeline_usnvc_spark.sources.tables import load_table

from pipeline_usnvc_spark.functions.text import DOC_SCORE_SQL as _DOC_SCORE_SQL
from pipeline_usnvc_spark.functions.text import TOKENIZE_SQL as _TOKS_SQL
from pipeline_usnvc_spark.functions.text import doc_score_micro


# ---------------------------------------------------------------------------
# q341 — Benjamini-Hochberg FDR over the per-nation two-proportion
# z-tests (q315's statistics): the multiple-testing control every
# per-segment experiment readout needs before anyone believes 25
# simultaneous "significant" flags. p-values come from the classic
# Abramowitz-Stegun 7.1.26 erfc polynomial — the IDENTICAL expression
# tree on both engines, fed the already-6dp-rounded |z| and rounded to
# 6dp itself, so the BH step function (rank p-values ascending,
# reject ranks 1..k where k = max{i : p_(i) <= i*alpha/m}) decides
# from identical values. Windows run over the <=25-row nation spine.
# ---------------------------------------------------------------------------
_P_FROM_ZABS_SQL = """
    (((((1.061405429 * tt - 1.453152027) * tt + 1.421413741) * tt
       - 0.284496736) * tt + 0.254829592) * tt) * exp(-xx * xx)
"""

@query(
    "q341_bh_fdr",
    oracle=f"""
    WITH conv AS (
        SELECT c.c_nationkey,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) FILTER (WHERE o.o_custkey IS NOT NULL) AS BIGINT) AS x
        FROM customer c
        LEFT JOIN (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F') o
          ON o.o_custkey = c.c_custkey
        GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(x) AS BIGINT) AS xt FROM conv),
    z AS (
        SELECT nn.n_name, c.n AS n1, c.x AS x1,
               t.nt - c.n AS n2, t.xt - c.x AS x2, t.xt, t.nt
        FROM conv c
        JOIN nation nn ON nn.n_nationkey = c.c_nationkey
        CROSS JOIN tot t
    ),
    zz AS (
        SELECT n_name, n1, x1,
               CASE WHEN n1 > 0 AND n2 > 0 AND xt > 0 AND xt < nt
                    THEN abs(round(
                        (CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                         - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                        / sqrt((CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE))
                               * (1.0 - CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE))
                               * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))), 6))
                    ELSE NULL END AS z_abs
        FROM z
    ),
    pv AS (
        SELECT n_name, n1, x1, z_abs,
               round((SELECT {_P_FROM_ZABS_SQL} FROM (
                   SELECT z_abs / sqrt(2.0) AS xx,
                          1.0 / (1.0 + 0.3275911 * (z_abs / sqrt(2.0))) AS tt)), 6) AS p
        FROM zz WHERE z_abs IS NOT NULL
    ),
    ranked AS (
        SELECT n_name, n1, x1, z_abs, p,
               CAST(row_number() OVER (ORDER BY p, n_name) AS BIGINT) AS rnk,
               CAST(count(*) OVER () AS BIGINT) AS m
        FROM pv
    ),
    kmax AS (
        SELECT n_name, n1, x1, z_abs, p, rnk, m,
               max(CASE WHEN p * CAST(m AS DOUBLE)
                             <= CAST(rnk AS DOUBLE) * 0.05 THEN rnk END)
                   OVER () AS k
        FROM ranked
    )
    SELECT n_name, n1 AS n_customers, x1 AS n_converted, z_abs, p AS p_value,
           rnk AS p_rank, coalesce(rnk <= k, FALSE) AS bh_reject
    FROM kmax ORDER BY n_name
    """,
)
def q341_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    buyers = (
        o.filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .withColumn("bought", F.lit(1))
    )
    conv = (
        c.join(buyers, "c_custkey", "left")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("bigint").alias("n1"),
            F.count("bought").cast("bigint").alias("x1"),
        )
    )
    tot = conv.agg(
        F.sum("n1").cast("bigint").alias("nt"), F.sum("x1").cast("bigint").alias("xt")
    )
    base = conv.crossJoin(F.broadcast(tot)).join(
        F.broadcast(n.select(F.col("n_nationkey").alias("c_nationkey"), "n_name")),
        "c_nationkey",
    )
    n1, x1 = F.col("n1").cast("double"), F.col("x1").cast("double")
    n2 = (F.col("nt") - F.col("n1")).cast("double")
    x2 = (F.col("xt") - F.col("x1")).cast("double")
    nt, xt = F.col("nt").cast("double"), F.col("xt").cast("double")
    pbar = xt / nt
    z_raw = (x1 / n1 - x2 / n2) / F.sqrt(
        pbar * (F.lit(1.0) - pbar) * (F.lit(1.0) / n1 + F.lit(1.0) / n2)
    )
    valid = (
        (F.col("n1") > 0)
        & (F.col("nt") - F.col("n1") > 0)
        & (F.col("xt") > 0)
        & (F.col("xt") < F.col("nt"))
    )
    zz = base.select(
        "n_name",
        "n1",
        "x1",
        F.when(valid, F.abs(F.round(z_raw, 6))).alias("z_abs"),
    ).filter(F.col("z_abs").isNotNull())
    xx = F.col("z_abs") / F.sqrt(F.lit(2.0))
    tt = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * xx)
    poly = (
        (
            (
                (F.lit(1.061405429) * tt - F.lit(1.453152027)) * tt
                + F.lit(1.421413741)
            )
            * tt
            - F.lit(0.284496736)
        )
        * tt
        + F.lit(0.254829592)
    ) * tt
    pv = zz.withColumn("p", F.round(poly * F.exp(-xx * xx), 6))
    # nation spine (<=25 rows): the unpartitioned windows are bounded.
    w_rank = Window.orderBy("p", "n_name")
    w_all = Window.partitionBy()
    ranked = pv.select(
        "n_name",
        "n1",
        "x1",
        "z_abs",
        "p",
        F.row_number().over(w_rank).cast("bigint").alias("rnk"),
        F.count("*").over(w_all).cast("bigint").alias("m"),
    )
    k = F.max(
        F.when(
            F.col("p") * F.col("m").cast("double")
            <= F.col("rnk").cast("double") * F.lit(0.05),
            F.col("rnk"),
        )
    ).over(w_all)
    return (
        ranked.withColumn("k", k)
        .select(
            "n_name",
            F.col("n1").alias("n_customers"),
            F.col("x1").alias("n_converted"),
            "z_abs",
            F.col("p").alias("p_value"),
            F.col("rnk").alias("p_rank"),
            F.coalesce(F.col("rnk") <= F.col("k"), F.lit(False)).alias("bh_reject"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# q342 — Good-Turing frequency smoothing over the corpus unigram
# counts: the unseen-probability-mass estimate (p0 = N1/N) and the
# smoothed count r* = (r+1)*N[r+1]/N[r] for low frequencies — the
# curation-side answer to "how much vocabulary haven't we crawled
# yet". Everything is exact integers (term counts, frequency-of-
# frequency counts) until two final 6dp divisions; the r+1 lookup is
# a self-join on the tiny frequency spine.
# ---------------------------------------------------------------------------
@query(
    "q342_good_turing",
    oracle=f"""
    WITH toks AS (SELECT unnest({_TOKS_SQL}) AS term FROM documents),
    tc AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY term),
    ff AS (SELECT c AS r, CAST(count(*) AS BIGINT) AS n_r FROM tc GROUP BY c),
    tot AS (
        SELECT CAST(sum(CAST(r AS HUGEINT) * n_r) AS BIGINT) AS n_tokens,
               CAST(max(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS BIGINT) AS n1
        FROM ff
    )
    SELECT a.r, a.n_r,
           coalesce(b.n_r, 0) AS n_r_next,
           round(CAST((a.r + 1) AS DOUBLE) * CAST(coalesce(b.n_r, 0) AS DOUBLE)
                 / CAST(a.n_r AS DOUBLE), 6) AS r_star,
           round(CAST(t.n1 AS DOUBLE) / CAST(t.n_tokens AS DOUBLE), 6) AS p_unseen
    FROM ff a
    LEFT JOIN ff b ON b.r = a.r + 1
    CROSS JOIN tot t
    WHERE a.r IN (SELECT r FROM ff ORDER BY r LIMIT 10)
    ORDER BY a.r
    """,
)
def q342_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    ff = tc.groupBy(F.col("c").alias("r")).agg(
        F.count("*").cast("bigint").alias("n_r")
    )
    tot = ff.agg(
        F.sum(_d38(F.col("r")) * _d38(F.col("n_r")))
        .cast("bigint")
        .alias("n_tokens"),
        F.max(F.when(F.col("r") == 1, F.col("n_r")).otherwise(0))
        .cast("bigint")
        .alias("n1"),
    )
    nxt = ff.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r_next"))
    # The 10 SMALLEST observed frequencies, not a fixed `r <= 10` cap:
    # at sf0.01 every term occurs > 10 times, so the fixed threshold is
    # degenerate (empty result => vacuous driver row, VERDICT r07
    # item 3). orderBy+limit over the tiny frequency-of-frequencies
    # spine is a TakeOrdered, deterministic because r is unique by
    # construction (GROUP BY c).
    lowest = ff.orderBy("r").limit(10)
    return (
        lowest
        .join(F.broadcast(nxt), "r", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "r",
            "n_r",
            F.coalesce("n_r_next", F.lit(0).cast("bigint")).alias("n_r_next"),
            F.round(
                (F.col("r") + 1).cast("double")
                * F.coalesce("n_r_next", F.lit(0).cast("bigint")).cast("double")
                / F.col("n_r").cast("double"),
                6,
            ).alias("r_star"),
            F.round(
                F.col("n1").cast("double") / F.col("n_tokens").cast("double"), 6
            ).alias("p_unseen"),
        )
        .orderBy("r")
    )


# ---------------------------------------------------------------------------
# q343 — jackknife-by-source: leave-one-source-out means of document
# length plus the jackknife standard error — the "is one crawl source
# dragging the whole corpus statistic" diagnostic, and the cheapest
# honest variance estimate for a ratio statistic at 100 TB (g
# leave-outs from ONE aggregate pass + a broadcast of g rows, vs g
# full re-scans for the naive formulation). LOO means are micro-
# rounded to integers (round(1e6*mean) — the q217 transcendental
# discipline applied to a ratio) so the cross-source variance sum is
# an EXACT DECIMAL(38,0) sum of squared integer deviations, scaled by
# g to stay integral: d_i = g*loo_i_micro - sum(loo_micro).
# ---------------------------------------------------------------------------
@query(
    "q343_jackknife_source",
    oracle="""
    WITH per_src AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS s_chars
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(sum(n_docs) AS BIGINT) AS n_all,
               CAST(sum(s_chars) AS BIGINT) AS s_all,
               CAST(count(*) AS BIGINT) AS g
        FROM per_src
    ),
    loo AS (
        SELECT p.source, p.n_docs, t.g,
               CAST(round(1000000.0 * CAST(t.s_all - p.s_chars AS DOUBLE)
                          / CAST(t.n_all - p.n_docs AS DOUBLE)) AS BIGINT) AS loo_micro
        FROM per_src p CROSS JOIN tot t
    ),
    spread AS (
        SELECT source, n_docs, g, loo_micro,
               CAST(sum(loo_micro) OVER () AS BIGINT) AS l_sum
        FROM loo
    )
    SELECT source, n_docs,
           round(CAST(loo_micro AS DOUBLE) / 1000000.0, 6) AS loo_mean_chars,
           round(sqrt(CAST(CAST(sum(CAST(CAST(g AS HUGEINT) * loo_micro - l_sum AS HUGEINT)
                                     * CAST(CAST(g AS HUGEINT) * loo_micro - l_sum AS HUGEINT))
                               OVER () AS HUGEINT) AS DOUBLE)
                      * CAST(g - 1 AS DOUBLE)
                      / (CAST(g AS DOUBLE) * CAST(g AS DOUBLE) * CAST(g AS DOUBLE)
                         * 1e12)), 6) AS jackknife_se
    FROM spread ORDER BY source
    """,
)
def q343_jackknife_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("s_chars"),
    )
    tot = per_src.agg(
        F.sum("n_docs").cast("bigint").alias("n_all"),
        F.sum("s_chars").cast("bigint").alias("s_all"),
        F.count("*").cast("bigint").alias("g"),
    )
    loo = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "g",
        F.round(
            F.lit(1000000.0)
            * (F.col("s_all") - F.col("s_chars")).cast("double")
            / (F.col("n_all") - F.col("n_docs")).cast("double")
        )
        .cast("bigint")
        .alias("loo_micro"),
    )
    # source spine (bounded handful of rows): unpartitioned windows OK.
    w_all = Window.partitionBy()
    spread = loo.withColumn(
        "l_sum", F.sum("loo_micro").over(w_all).cast("bigint")
    )
    d = _d38(F.col("g")) * _d38(F.col("loo_micro")) - _d38(F.col("l_sum"))
    ss = F.sum(d * d).over(w_all).cast("decimal(38,0)")
    g = F.col("g").cast("double")
    se = F.sqrt(
        ss.cast("double") * (F.col("g") - 1).cast("double") / (g * g * g * F.lit(1e12))
    )
    return spread.select(
        "source",
        "n_docs",
        F.round(F.col("loo_micro").cast("double") / F.lit(1000000.0), 6).alias(
            "loo_mean_chars"
        ),
        F.round(se, 6).alias("jackknife_se"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# q344 — Cochran-Armitage trend test: is the finished-order rate
# monotone in order priority (ordinal scores 1..5 parsed from the
# priority label)? The ordinal counterpart of q315's two-sample z /
# q192's unordered chi-square. All sufficient statistics (n_k, x_k,
# s*n, s^2*n, s*x sums) are exact integers from one orders-grain
# groupBy onto the 5-row priority spine; the z is one double
# expression, rounded 6dp, with the significance flag decided from
# the rounded value.
# ---------------------------------------------------------------------------
@query(
    "q344_cochran_armitage",
    oracle="""
    WITH per_k AS (
        SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    agg AS (
        SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(x) AS BIGINT) AS xt,
               CAST(sum(s * n) AS BIGINT) AS sn,
               CAST(sum(s * s * n) AS BIGINT) AS ssn,
               CAST(sum(s * x) AS BIGINT) AS sx
        FROM per_k
    )
    SELECT nt AS n_orders, xt AS n_finished,
           round((CAST(sx AS DOUBLE) - CAST(xt AS DOUBLE) * CAST(sn AS DOUBLE) / CAST(nt AS DOUBLE))
                 / sqrt((CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE))
                        * (1.0 - CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE))
                        * (CAST(ssn AS DOUBLE)
                           - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE) / CAST(nt AS DOUBLE))), 6)
               AS trend_z,
           abs(round((CAST(sx AS DOUBLE) - CAST(xt AS DOUBLE) * CAST(sn AS DOUBLE) / CAST(nt AS DOUBLE))
                 / sqrt((CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE))
                        * (1.0 - CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE))
                        * (CAST(ssn AS DOUBLE)
                           - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE) / CAST(nt AS DOUBLE))), 6)) > 1.96
               AS significant
    FROM agg
    """,
)
def q344_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    per_k = o.groupBy(
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("s")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
    )
    agg = per_k.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("x").cast("bigint").alias("xt"),
        F.sum(F.col("s") * F.col("n")).cast("bigint").alias("sn"),
        F.sum(F.col("s") * F.col("s") * F.col("n")).cast("bigint").alias("ssn"),
        F.sum(F.col("s") * F.col("x")).cast("bigint").alias("sx"),
    )
    nt, xt = F.col("nt").cast("double"), F.col("xt").cast("double")
    sn, ssn, sx = (
        F.col("sn").cast("double"),
        F.col("ssn").cast("double"),
        F.col("sx").cast("double"),
    )
    pbar = xt / nt
    z = F.round(
        (sx - xt * sn / nt)
        / F.sqrt(pbar * (F.lit(1.0) - pbar) * (ssn - sn * sn / nt)),
        6,
    )
    return agg.select(
        F.col("nt").alias("n_orders"),
        F.col("xt").alias("n_finished"),
        z.alias("trend_z"),
        (F.abs(z) > F.lit(1.96)).alias("significant"),
    )


# ---------------------------------------------------------------------------
# q345 — calibration reliability bins + expected calibration error
# for a fixed logistic length-based "is this English" confidence
# score vs the labeled language: the audit every learned quality
# filter needs before its scores gate a corpus. Per-row confidences
# are micro-rounded integers (the identical exp() tree on both
# engines feeds round(1e6*conf)), so per-bin confidence sums are
# exact, and ECE reduces to sum_b |x_b*1e6 - C_b| / (1e6*N) — an
# EXACT integer numerator with one final double division. 10-row bin
# spine; the only row-grain op is the first groupBy.
# ---------------------------------------------------------------------------
@query(
    "q345_calibration_ece",
    oracle=f"""
    WITH scored AS (
        SELECT {_DOC_SCORE_SQL} AS conf_micro,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    binned AS (
        SELECT least(CAST(conf_micro // 100000 AS BIGINT), 9) AS bin, conf_micro, y
        FROM scored
    ),
    per_bin AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS x,
               CAST(sum(conf_micro) AS BIGINT) AS c_sum
        FROM binned GROUP BY bin
    ),
    tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_all,
               CAST(sum(abs(x * 1000000 - c_sum)) AS BIGINT) AS gap_sum
        FROM per_bin
    )
    SELECT bin, n AS n_docs,
           round(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 6) AS accuracy,
           round(CAST(c_sum AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0), 6) AS avg_conf,
           round(CAST(t.gap_sum AS DOUBLE) / (1000000.0 * CAST(t.n_all AS DOUBLE)), 6) AS ece
    FROM per_bin CROSS JOIN tot t
    ORDER BY bin
    """,
)
def q345_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    conf_micro = doc_score_micro()
    scored = docs.select(
        conf_micro.alias("conf_micro"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    binned = scored.select(
        F.least(F.floor(F.col("conf_micro") / 100000).cast("bigint"), F.lit(9)).alias(
            "bin"
        ),
        "conf_micro",
        "y",
    )
    per_bin = binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("x"),
        F.sum("conf_micro").cast("bigint").alias("c_sum"),
    )
    tot = per_bin.agg(
        F.sum("n").cast("bigint").alias("n_all"),
        F.sum(F.abs(F.col("x") * 1000000 - F.col("c_sum")))
        .cast("bigint")
        .alias("gap_sum"),
    )
    return (
        per_bin.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            F.col("n").alias("n_docs"),
            F.round(F.col("x").cast("double") / F.col("n").cast("double"), 6).alias(
                "accuracy"
            ),
            F.round(
                F.col("c_sum").cast("double")
                / (F.col("n").cast("double") * F.lit(1000000.0)),
                6,
            ).alias("avg_conf"),
            F.round(
                F.col("gap_sum").cast("double")
                / (F.lit(1000000.0) * F.col("n_all").cast("double")),
                6,
            ).alias("ece"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# q346 — dedup scaling curve: split the corpus into 10 deterministic
# doc_id-range prefixes and report, per prefix, how many NEW 3-gram
# shingles it contributes vs its total shingle instances — the
# "marginal novelty per crawl increment" curve that decides when more
# of the same source stops buying training data. Scale shape: ONE
# scan + explode feeds a (shingle, bucket)-grain partial aggregation
# (map-side combine collapses repeated shingles before the shuffle —
# the same exchange q50's exact dedup uses); both downstream
# aggregates (first-occurrence bucket per shingle, instance counts
# per bucket) reuse that one materialized grain, so the corpus is
# never exploded twice. No windows at data grain — the cumulative
# curve is a window over the 10-row prefix spine. The prefix
# assignment is a pure expression on doc_id against the broadcast
# corpus size (no global sort, no ntile at data grain).
# ---------------------------------------------------------------------------
@query(
    "q346_dedup_scaling_curve",
    oracle=f"""
    WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    sh AS (
        SELECT doc_id, unnest(
            list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                           i -> toks[i] || '_' || toks[i+1] || '_' || toks[i+2])
        ) AS shingle
        FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
    ),
    bucketed AS (
        SELECT least(CAST(s.doc_id * 10 // n.n_docs AS BIGINT), 9) AS bucket, s.shingle
        FROM sh s CROSS JOIN nn n
    ),
    first_seen AS (
        SELECT shingle, CAST(min(bucket) AS BIGINT) AS fb FROM bucketed GROUP BY shingle
    ),
    new_per_bucket AS (
        SELECT fb AS bucket, CAST(count(*) AS BIGINT) AS n_new FROM first_seen GROUP BY fb
    ),
    inst_per_bucket AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_inst FROM bucketed GROUP BY bucket
    )
    SELECT i.bucket, i.n_inst AS n_shingle_instances,
           coalesce(np.n_new, 0) AS n_new_shingles,
           CAST(sum(coalesce(np.n_new, 0)) OVER (ORDER BY i.bucket) AS BIGINT)
               AS cum_distinct_shingles,
           round(CAST(coalesce(np.n_new, 0) AS DOUBLE) / CAST(i.n_inst AS DOUBLE), 6)
               AS novelty_rate
    FROM inst_per_bucket i
    LEFT JOIN new_per_bucket np ON np.bucket = i.bucket
    ORDER BY i.bucket
    """,
)
def q346_dedup_scaling_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.functions.text import tokens, word_shingles
    from pipeline_usnvc_spark.operators.checkpoint import fan_out, materialize

    docs = load_table(spark, sf_dir, "documents")
    nn = docs.agg(F.count("*").cast("bigint").alias("n_docs"))
    # fan_out (r13): the shingle explode is this query's whole map cost
    # and a single-row-group parquet file scans as ONE task (profiled:
    # two 1.1-1.3 s single-task stages on an idle 32-core box).
    sh = fan_out(docs).select(
        "doc_id", F.explode(word_shingles(tokens("text"), 3)).alias("shingle")
    )
    bucketed = sh.crossJoin(F.broadcast(nn)).select(
        F.least(
            F.floor(F.col("doc_id") * 10 / F.col("n_docs")).cast("bigint"), F.lit(9)
        ).alias("bucket"),
        "shingle",
    )
    # The single data-grain exchange: (shingle, bucket) counts with
    # map-side combine. Materialized (r13): its two consumers
    # (first_seen and inst_per_bucket) aggregate differently, so the
    # optimizer specializes each copy of the subtree and the exchanges
    # are never canonically equal — the event-log profile showed the
    # scan + shingle explode executing twice, zero ReusedExchange. The
    # checkpointed frame is (distinct shingle x bucket) — VOCABULARY
    # grain (Heaps' law: ≪ the instance stream this aggregates), not
    # corpus grain, so the cut is cheap at any scale while the saved
    # pass is the full shingle explode.
    grain = materialize(
        bucketed.groupBy("shingle", "bucket").agg(
            F.count("*").cast("bigint").alias("n")
        )
    )
    first_seen = grain.groupBy("shingle").agg(
        F.min("bucket").cast("bigint").alias("fb")
    )
    new_per_bucket = first_seen.groupBy(F.col("fb").alias("bucket")).agg(
        F.count("*").cast("bigint").alias("n_new")
    )
    inst_per_bucket = grain.groupBy("bucket").agg(
        F.sum("n").cast("bigint").alias("n_inst")
    )
    joined = inst_per_bucket.join(F.broadcast(new_per_bucket), "bucket", "left")
    # 10-row prefix spine: the cumulative window is bounded.
    w_cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    n_new = F.coalesce("n_new", F.lit(0).cast("bigint"))
    return joined.select(
        "bucket",
        F.col("n_inst").alias("n_shingle_instances"),
        n_new.alias("n_new_shingles"),
        F.sum(n_new).over(w_cum).cast("bigint").alias("cum_distinct_shingles"),
        F.round(n_new.cast("double") / F.col("n_inst").cast("double"), 6).alias(
            "novelty_rate"
        ),
    ).orderBy("bucket")


# ---------------------------------------------------------------------------
# q347 — Page-Hinkley sequential change detection on daily order
# counts (delta=5 events, lambda=50): the streaming-adjacent "did the
# level shift" monitor that complements q193's CUSUM (which tracks a
# fixed reference mean; PH tracks the RUNNING mean, so it adapts to
# slow drift and fires only on abrupt shifts). Running means are
# floor-divided to exact micro integers (the q331 floor-div idiom),
# so every cumulative sum and running minimum is exact integer math
# on the calendar-bounded day spine; the reported statistic is one
# final 6dp division.
# ---------------------------------------------------------------------------
@query(
    "q347_page_hinkley",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    cum AS (
        SELECT d, x,
               CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t,
               CAST(sum(x) OVER (ORDER BY d) AS BIGINT) AS s
        FROM daily
    ),
    dev AS (
        SELECT d, x,
               CAST(x AS HUGEINT) * 1000000
                 - (CAST(s AS HUGEINT) * 1000000
                    - (CAST(s AS HUGEINT) * 1000000) % CAST(t AS HUGEINT)) // CAST(t AS HUGEINT)
                 - 5000000 AS dev_micro
        FROM cum
    ),
    ph AS (
        SELECT d, x,
               CAST(sum(dev_micro) OVER (ORDER BY d) AS HUGEINT) AS m_t
        FROM dev
    )
    SELECT d AS day_index, x AS n_orders,
           round(CAST(CAST(m_t - min(m_t) OVER (ORDER BY d) AS BIGINT) AS DOUBLE)
                 / 1000000.0, 6) AS ph_stat,
           CAST(m_t - min(m_t) OVER (ORDER BY d) AS BIGINT) >= 50000000 AS change_flag
    FROM ph ORDER BY d
    """,
)
def q347_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
        .cast("bigint")
        .alias("d")
    ).agg(F.count("*").cast("bigint").alias("x"))
    # calendar-bounded day spine (~2.4k rows): unpartitioned windows OK.
    w_ord = Window.orderBy("d")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "d",
        "x",
        F.row_number().over(w_ord).cast("bigint").alias("t"),
        F.sum("x").over(w_cum).cast("bigint").alias("s"),
    )
    s_scaled = _d38(F.col("s")) * F.lit(1000000).cast("decimal(38,0)")
    mean_floor = (s_scaled - F.pmod(s_scaled, _d38(F.col("t")))) / _d38(F.col("t"))
    dev = cum.select(
        "d",
        "x",
        (
            _d38(F.col("x")) * F.lit(1000000).cast("decimal(38,0)")
            - mean_floor.cast("decimal(38,0)")
            - F.lit(5000000).cast("decimal(38,0)")
        ).alias("dev_micro"),
    )
    ph = dev.select(
        "d",
        "x",
        F.sum("dev_micro").over(w_cum).cast("decimal(38,0)").alias("m_t"),
    )
    ph_int = (F.col("m_t") - F.min("m_t").over(w_cum)).cast("bigint")
    return ph.select(
        F.col("d").alias("day_index"),
        F.col("x").alias("n_orders"),
        F.round(ph_int.cast("double") / F.lit(1000000.0), 6).alias("ph_stat"),
        (ph_int >= F.lit(50000000)).alias("change_flag"),
    ).orderBy("day_index")


# ---------------------------------------------------------------------------
# q348 — information gain of order priority for predicting finished
# status: H(y) - H(y|priority), the feature-usefulness number behind
# every decision-tree split and every "is this metadata column worth
# keeping" curation question. Exact counts on the 5-row priority
# spine; every entropy term follows the q330/q332 micro-ln discipline
# (HUGEINT count x round(1e6*ln(exact ratio)) summed exactly, ONE
# final division), and IG subtracts the two raw sums BEFORE the
# single 6dp round so no intermediate rounding compounds.
# ---------------------------------------------------------------------------
@query(
    "q348_info_gain",
    oracle="""
    WITH per_k AS (
        SELECT o_orderpriority AS k,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(x) AS BIGINT) AS xt FROM per_k),
    cond AS (
        SELECT CAST(sum(
            CASE WHEN x > 0 THEN CAST(x AS HUGEINT)
                 * CAST(round(1000000.0 * ln(CAST(x AS DOUBLE) / CAST(n AS DOUBLE))) AS HUGEINT)
                 ELSE 0 END
          + CASE WHEN n - x > 0 THEN CAST(n - x AS HUGEINT)
                 * CAST(round(1000000.0 * ln(CAST(n - x AS DOUBLE) / CAST(n AS DOUBLE))) AS HUGEINT)
                 ELSE 0 END) AS HUGEINT) AS w_cond
        FROM per_k
    ),
    marg AS (
        SELECT CASE WHEN xt > 0 THEN CAST(xt AS HUGEINT)
                 * CAST(round(1000000.0 * ln(CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE))) AS HUGEINT)
                 ELSE 0 END
             + CASE WHEN nt - xt > 0 THEN CAST(nt - xt AS HUGEINT)
                 * CAST(round(1000000.0 * ln(CAST(nt - xt AS DOUBLE) / CAST(nt AS DOUBLE))) AS HUGEINT)
                 ELSE 0 END AS w_marg,
               nt, xt
        FROM tot
    )
    SELECT m.nt AS n_orders, m.xt AS n_finished,
           round(-CAST(m.w_marg AS DOUBLE) / (CAST(m.nt AS DOUBLE) * 1000000.0), 6) AS h_label,
           round(-CAST(c.w_cond AS DOUBLE) / (CAST(m.nt AS DOUBLE) * 1000000.0), 6) AS h_cond,
           round((CAST(c.w_cond AS DOUBLE) - CAST(m.w_marg AS DOUBLE))
                 / (CAST(m.nt AS DOUBLE) * 1000000.0), 6) AS info_gain
    FROM marg m CROSS JOIN cond c
    """,
)
def q348_info_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    per_k = o.groupBy(F.col("o_orderpriority").alias("k")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
    )

    def _w(num, den):
        return F.when(
            num > 0,
            _d38(num)
            * F.round(
                F.lit(1000000.0) * F.log(num.cast("double") / den.cast("double"))
            ).cast("decimal(38,0)"),
        ).otherwise(F.lit(0).cast("decimal(38,0)"))

    cond = per_k.agg(
        F.sum(_w(F.col("x"), F.col("n")) + _w(F.col("n") - F.col("x"), F.col("n")))
        .cast("decimal(38,0)")
        .alias("w_cond"),
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("x").cast("bigint").alias("xt"),
    )
    w_marg = _w(F.col("xt"), F.col("nt")) + _w(
        F.col("nt") - F.col("xt"), F.col("nt")
    )
    den = F.col("nt").cast("double") * F.lit(1000000.0)
    return cond.select(
        F.col("nt").alias("n_orders"),
        F.col("xt").alias("n_finished"),
        F.round(-w_marg.cast("double") / den, 6).alias("h_label"),
        F.round(-F.col("w_cond").cast("double") / den, 6).alias("h_cond"),
        F.round(
            (F.col("w_cond").cast("double") - w_marg.cast("double")) / den, 6
        ).alias("info_gain"),
    )


# The all-pairs two-sample scaffold shared by q349 (CvM), q367
# (energy distance) and q368 (1-D Wasserstein): per-(source, value)
# counts, the sa < sb source-pair lattice, and the padded pair x
# value spine. ONE definition each side (review finding: ~45 verbatim
# lines x3 on each engine side; the r07 item-4 de-hinting was already
# hand-applied three times).
_PAIR_VALUE_SPINE_CTES = """cnt AS (
        SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.source AS sa, b.source AS sb
        FROM (SELECT DISTINCT source FROM cnt) a
        JOIN (SELECT DISTINCT source FROM cnt) b ON a.source < b.source
    ),
    spine AS (
        SELECT p.sa, p.sb, v.v,
               coalesce(ca.c, 0) AS ca, coalesce(cb.c, 0) AS cb
        FROM pairs p
        JOIN (SELECT DISTINCT cnt.v FROM cnt) v ON TRUE
        LEFT JOIN cnt ca ON ca.source = p.sa AND ca.v = v.v
        LEFT JOIN cnt cb ON cb.source = p.sb AND cb.v = v.v
        WHERE coalesce(ca.c, 0) + coalesce(cb.c, 0) > 0
    )"""


def _source_pair_value_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark mirror of ``_PAIR_VALUE_SPINE_CTES``'s ``spine`` CTE:
    (sa, sb, v, ca, cb) with zero-padded counts. Un-hinted count-frame
    joins on purpose — its grain is (source x distinct value), bounded
    here, but hinting a broadcast hard-commits the plan at any scale;
    left to AQE, Spark broadcasts when the runtime size is small and
    shuffles otherwise (VERDICT r07 item 4).

    ``cnt`` is materialized (r13): it feeds FOUR consumers (the source
    lattice, the value spine and both padded-count joins), each of
    which the optimizer specializes differently, so their exchanges
    never canonicalize equal and the documents scan + groupBy re-ran
    per consumer. The frame is (source x distinct length) —
    value-domain bounded, KBs at any corpus size."""
    from pipeline_usnvc_spark.operators.checkpoint import materialize

    docs = load_table(spark, sf_dir, "documents")
    cnt = materialize(
        docs.groupBy("source", F.col("n_chars").alias("v")).agg(
            F.count("*").cast("bigint").alias("c")
        )
    )
    srcs = cnt.select("source").distinct()
    pairs = srcs.select(F.col("source").alias("sa")).join(
        srcs.select(F.col("source").alias("sb")), F.col("sa") < F.col("sb")
    )
    vals = cnt.select("v").distinct()
    return (
        pairs.crossJoin(F.broadcast(vals))
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


# ---------------------------------------------------------------------------
# q349 — Cramér-von Mises two-sample statistic between every pair of
# sources' document-length distributions: the drift test that weighs
# the WHOLE ECDF gap (KS, q191, sees only the max). Computed in the
# standard tied-data form T = sum_x w_x*(F_a - F_b)^2 * nm/(n+m)^2
# over the pooled value spine, with the ECDF gap kept as the EXACT
# integer cf_a*m - cf_b*n — the numerator sum is exact DECIMAL(38,0)
# and one final division produces the statistic. Grain: (source pair)
# x (distinct lengths) — both value-domain-bounded; the only row-
# grain op is the first groupBy. DECIMAL(38,0) headroom note: the
# summed term is w*(cf_a*m - cf_b*n)^2 <= (n+m)*(nm)^2 — fine through
# ~1e9-row sides, beyond which the gap should be banded to micro
# before squaring.
# ---------------------------------------------------------------------------
@query(
    "q349_cvm_two_sample",
    oracle=f"""
    WITH {_PAIR_VALUE_SPINE_CTES},
    cum AS (
        SELECT sa, sb, v, ca, cb,
               CAST(sum(ca) OVER w AS BIGINT) AS cfa,
               CAST(sum(cb) OVER w AS BIGINT) AS cfb,
               CAST(sum(ca) OVER (PARTITION BY sa, sb) AS BIGINT) AS n,
               CAST(sum(cb) OVER (PARTITION BY sa, sb) AS BIGINT) AS m
        FROM spine
        WINDOW w AS (PARTITION BY sa, sb ORDER BY v)
    ),
    agg AS (
        SELECT sa, sb, max(n) AS n, max(m) AS m,
               CAST(sum(CAST(ca + cb AS HUGEINT)
                        * CAST(cfa * m - cfb * n AS HUGEINT)
                        * CAST(cfa * m - cfb * n AS HUGEINT)) AS HUGEINT) AS num
        FROM cum GROUP BY sa, sb
    )
    SELECT sa AS source_a, sb AS source_b, n AS n_a, m AS n_b,
           round(CAST(num AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(m AS DOUBLE)
                    * CAST(n + m AS DOUBLE) * CAST(n + m AS DOUBLE)), 6) AS cvm_t
    FROM agg ORDER BY sa, sb
    """,
)
def q349_cvm_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _source_pair_value_spine(spark, sf_dir)
    w_cum = Window.partitionBy("sa", "sb").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_pair = Window.partitionBy("sa", "sb")
    cum = spine.select(
        "sa",
        "sb",
        "ca",
        "cb",
        F.sum("ca").over(w_cum).cast("bigint").alias("cfa"),
        F.sum("cb").over(w_cum).cast("bigint").alias("cfb"),
        F.sum("ca").over(w_pair).cast("bigint").alias("n"),
        F.sum("cb").over(w_pair).cast("bigint").alias("m"),
    )
    diff = _d38(F.col("cfa") * F.col("m") - F.col("cfb") * F.col("n"))
    agg = cum.groupBy("sa", "sb").agg(
        F.max("n").alias("n"),
        F.max("m").alias("m"),
        F.sum(_d38(F.col("ca") + F.col("cb")) * diff * diff)
        .cast("decimal(38,0)")
        .alias("num"),
    )
    n, m = F.col("n").cast("double"), F.col("m").cast("double")
    return agg.select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        F.col("n").alias("n_a"),
        F.col("m").alias("n_b"),
        F.round(F.col("num").cast("double") / (n * m * (n + m) * (n + m)), 6).alias(
            "cvm_t"
        ),
    ).orderBy("source_a", "source_b")


# ---------------------------------------------------------------------------
# q350 — binary-segmentation changepoint on daily order counts: the
# single split that maximizes the between-segment SSE reduction
# gain(t) = (S1*n2 - S2*n1)^2 / (n1*n2*T) — the offline complement of
# q193's CUSUM and q347's Page-Hinkley. The gain numerator is an
# EXACT DECIMAL(38,0) square (prefix sums never pass through double),
# floor-divided to micro-units (the q331 idiom), so the argmax is an
# exact integer comparison with the deterministic tie-break (earliest
# day) folded into the ordering. Calendar-bounded day spine.
# ---------------------------------------------------------------------------
@query(
    "q350_binseg_changepoint",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    cum AS (
        SELECT d, x,
               CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t,
               CAST(sum(x) OVER (ORDER BY d) AS BIGINT) AS s1,
               CAST(count(*) OVER () AS BIGINT) AS tt,
               CAST(sum(x) OVER () AS BIGINT) AS st
        FROM daily
    ),
    gains AS (
        SELECT d, t, tt,
               (CAST(s1 AS HUGEINT) * (tt - t) - CAST(st - s1 AS HUGEINT) * t) AS gnum,
               CAST(t AS HUGEINT) * (tt - t) * tt AS gden
        FROM cum WHERE t < tt
    ),
    scored AS (
        SELECT d, t,
               CAST((gnum * gnum * 1000000
                     - (gnum * gnum * 1000000) % gden) // gden AS BIGINT) AS gain_micro
        FROM gains
    )
    SELECT d AS split_day, t AS split_pos,
           round(CAST(gain_micro AS DOUBLE) / 1000000.0, 6) AS sse_gain
    FROM scored
    QUALIFY row_number() OVER (ORDER BY gain_micro DESC, d ASC) = 1
    """,
)
def q350_binseg_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")).cast("bigint").alias("d")
    ).agg(F.count("*").cast("bigint").alias("x"))
    w_ord = Window.orderBy("d")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    cum = daily.select(
        "d",
        F.row_number().over(w_ord).cast("bigint").alias("t"),
        F.sum("x").over(w_cum).cast("bigint").alias("s1"),
        F.count("*").over(w_all).cast("bigint").alias("tt"),
        F.sum("x").over(w_all).cast("bigint").alias("st"),
    )
    gnum = _d38(F.col("s1")) * _d38(F.col("tt") - F.col("t")) - _d38(
        F.col("st") - F.col("s1")
    ) * _d38(F.col("t"))
    gden = _d38(F.col("t")) * _d38(F.col("tt") - F.col("t")) * _d38(F.col("tt"))
    scaled = gnum * gnum * F.lit(1000000).cast("decimal(38,0)")
    gain_micro = ((scaled - F.pmod(scaled, gden)) / gden).cast("bigint")
    scored = cum.filter(F.col("t") < F.col("tt")).select(
        "d", "t", gain_micro.alias("gain_micro")
    )
    w_best = Window.orderBy(F.col("gain_micro").desc(), F.col("d").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select(
            F.col("d").alias("split_day"),
            F.col("t").alias("split_pos"),
            F.round(F.col("gain_micro").cast("double") / F.lit(1000000.0), 6).alias(
                "sse_gain"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q351 — additive seasonal decomposition of daily order counts:
# trend = centered 7-day moving average (complete windows only),
# seasonal = per-day-of-week mean of the detrended series, residual =
# the rest. Every mean is an exact floor-divided micro integer; the
# negative-capable seasonal mean shifts by n*C before the floor-div
# (floor((s + nC)/n) - C == floor(s/n) exactly) so Spark's pmod and
# DuckDB's %-on-shifted-nonnegative agree. Day spine throughout.
# ---------------------------------------------------------------------------
@query(
    "q351_seasonal_decompose",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    ma AS (
        SELECT d, x,
               CAST(sum(x) OVER w AS BIGINT) AS s7,
               CAST(count(*) OVER w AS BIGINT) AS n7
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    trended AS (
        SELECT d, x,
               (CAST(s7 AS HUGEINT) * 1000000
                - (CAST(s7 AS HUGEINT) * 1000000) % 7) // 7 AS trend_micro
        FROM ma WHERE n7 = 7
    ),
    detr AS (
        SELECT d, x, trend_micro,
               CAST(x AS HUGEINT) * 1000000 - trend_micro AS detr_micro,
               d % 7 AS dow
        FROM trended
    ),
    seas AS (
        SELECT dow,
               ((CAST(sum(detr_micro) AS HUGEINT) + CAST(count(*) AS HUGEINT) * 1000000000000000
                 - (CAST(sum(detr_micro) AS HUGEINT) + CAST(count(*) AS HUGEINT) * 1000000000000000)
                   % CAST(count(*) AS HUGEINT)) // CAST(count(*) AS HUGEINT))
               - 1000000000000000 AS s_micro
        FROM detr GROUP BY dow
    )
    SELECT t.d AS day_index, t.x AS n_orders,
           round(CAST(CAST(t.trend_micro AS BIGINT) AS DOUBLE) / 1000000.0, 6) AS trend,
           round(CAST(CAST(s.s_micro AS BIGINT) AS DOUBLE) / 1000000.0, 6) AS seasonal,
           round(CAST(CAST(t.detr_micro - s.s_micro AS BIGINT) AS DOUBLE) / 1000000.0, 6) AS residual
    FROM detr t JOIN seas s ON s.dow = t.dow
    ORDER BY t.d
    """,
)
def q351_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")).cast("bigint").alias("d")
    ).agg(F.count("*").cast("bigint").alias("x"))
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    ma = daily.select(
        "d",
        "x",
        F.sum("x").over(w7).cast("bigint").alias("s7"),
        F.count("*").over(w7).cast("bigint").alias("n7"),
    )
    s7_scaled = _d38(F.col("s7")) * F.lit(1000000).cast("decimal(38,0)")
    seven = F.lit(7).cast("decimal(38,0)")
    trend_micro = (s7_scaled - F.pmod(s7_scaled, seven)) / seven
    detr = ma.filter(F.col("n7") == 7).select(
        "d",
        "x",
        trend_micro.cast("decimal(38,0)").alias("trend_micro"),
        (
            _d38(F.col("x")) * F.lit(1000000).cast("decimal(38,0)")
            - trend_micro.cast("decimal(38,0)")
        ).alias("detr_micro"),
        F.pmod(F.col("d"), F.lit(7)).alias("dow"),
    )
    big_c = F.lit(1000000000000000).cast("decimal(38,0)")
    seas = detr.groupBy("dow").agg(
        F.sum("detr_micro").cast("decimal(38,0)").alias("sd"),
        F.count("*").cast("decimal(38,0)").alias("nd"),
    )
    shifted = F.col("sd") + F.col("nd") * big_c
    s_micro = (
        (shifted - F.pmod(shifted, F.col("nd"))) / F.col("nd") - big_c
    ).cast("decimal(38,0)")
    seas = seas.select("dow", s_micro.alias("s_micro"))
    return (
        detr.join(F.broadcast(seas), "dow")
        .select(
            F.col("d").alias("day_index"),
            F.col("x").alias("n_orders"),
            F.round(
                F.col("trend_micro").cast("bigint").cast("double") / F.lit(1000000.0),
                6,
            ).alias("trend"),
            F.round(
                F.col("s_micro").cast("bigint").cast("double") / F.lit(1000000.0), 6
            ).alias("seasonal"),
            F.round(
                (F.col("detr_micro") - F.col("s_micro")).cast("bigint").cast("double")
                / F.lit(1000000.0),
                6,
            ).alias("residual"),
        )
        .orderBy("day_index")
    )


# The right-censored repeat-purchase duration construction shared by
# q352 (Kaplan-Meier) and q377 (Nelson-Aalen) — first purchase per
# user, next purchase if any (censored at the corpus horizon
# otherwise), duration spine with per-t event counts, and the at-risk
# decrement. ONE definition each side (review finding: ~40 verbatim
# lines per estimator; a censoring-rule change applied to one would
# silently de-sync the other and their exp(-H) cross-check).
_DURATION_RISK_CTES = """p AS (
        SELECT user_id, CAST(date_diff('day', DATE '1992-01-01', CAST(ts AS DATE)) AS BIGINT) AS d
        FROM events WHERE event_type = 'purchase'
    ),
    horizon AS (SELECT max(d) AS dmax FROM p),
    per_user AS (
        SELECT user_id, min(d) AS first_d,
               min(CASE WHEN d > (SELECT min(d) FROM p p2 WHERE p2.user_id = p.user_id) THEN d END)
                   AS next_d
        FROM p GROUP BY user_id
    ),
    durations AS (
        SELECT CASE WHEN next_d IS NOT NULL THEN next_d - first_d
                    ELSE h.dmax - first_d END AS t,
               CASE WHEN next_d IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM per_user CROSS JOIN horizon h
    ),
    spine AS (
        SELECT t, CAST(count(*) AS BIGINT) AS n_all,
               CAST(sum(ev) AS BIGINT) AS n_ev
        FROM durations GROUP BY t
    ),
    risk AS (
        SELECT t, n_ev,
               CAST(sum(n_all) OVER () AS BIGINT)
                 - CAST(coalesce(sum(n_all) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                 AS n_risk
        FROM spine
    )"""


def _duration_risk_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark mirror of ``_DURATION_RISK_CTES``'s final ``risk`` CTE:
    (t, n_ev, n_risk), unfiltered — estimators filter/transform from
    here."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1992-01-01")).cast("bigint").alias("d"),
    )
    horizon = p.agg(F.max("d").alias("dmax"))
    per_user = p.groupBy("user_id").agg(F.min("d").alias("first_d"))
    nexts = (
        p.join(per_user, "user_id")
        .filter(F.col("d") > F.col("first_d"))
        .groupBy("user_id")
        .agg(F.min("d").alias("next_d"))
    )
    durations = (
        per_user.join(nexts, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(F.col("next_d").isNotNull(), F.col("next_d") - F.col("first_d"))
            .otherwise(F.col("dmax") - F.col("first_d"))
            .alias("t"),
            F.when(F.col("next_d").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    spine = durations.groupBy("t").agg(
        F.count("*").cast("bigint").alias("n_all"),
        F.sum("ev").cast("bigint").alias("n_ev"),
    )
    w_all = Window.partitionBy()
    w_before = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    return spine.select(
        "t",
        "n_ev",
        (
            F.sum("n_all").over(w_all).cast("bigint")
            - F.coalesce(F.sum("n_all").over(w_before), F.lit(0)).cast("bigint")
        ).alias("n_risk"),
    )


# ---------------------------------------------------------------------------
# q352 — Kaplan-Meier product-limit survival of time-to-repeat-
# purchase WITH right-censoring (q270's discrete-week ratios ignore
# censoring; this is the estimator a churn analysis actually wants).
# Users without a second purchase are censored at the corpus horizon.
# S(t) = prod_{t_i<=t} (1 - d_i/n_i) is computed as exp of the EXACT
# cumulative sum of micro-rounded ln((n-d)/n) terms over the event-
# time spine (the q217/q330 transcendental discipline); once the risk
# set dies out entirely (n == d) survival pins to 0 from that point.
# Grain: one user-level aggregate, then the bounded duration spine.
# ---------------------------------------------------------------------------
@query(
    "q352_kaplan_meier",
    oracle=f"""
    WITH {_DURATION_RISK_CTES},
    terms AS (
        SELECT t, n_ev, n_risk,
               CASE WHEN n_ev < n_risk
                    THEN CAST(round(1000000.0 * ln(CAST(n_risk - n_ev AS DOUBLE)
                                                   / CAST(n_risk AS DOUBLE))) AS BIGINT)
                    ELSE NULL END AS ln_micro
        FROM risk WHERE n_ev > 0
    ),
    cum AS (
        SELECT t, n_ev, n_risk,
               CAST(sum(coalesce(ln_micro, 0)) OVER (ORDER BY t) AS BIGINT) AS cum_ln,
               max(CASE WHEN ln_micro IS NULL THEN 1 ELSE 0 END)
                   OVER (ORDER BY t) AS died_out
        FROM terms
    )
    SELECT t AS duration_days, n_risk AS n_at_risk, n_ev AS n_events,
           CASE WHEN died_out = 1 THEN 0.0
                ELSE round(exp(CAST(cum_ln AS DOUBLE) / 1000000.0), 6) END AS survival
    FROM cum ORDER BY t
    """,
)
def q352_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    risk = _duration_risk_spine(spark, sf_dir)
    ln_micro = F.when(
        F.col("n_ev") < F.col("n_risk"),
        F.round(
            F.lit(1000000.0)
            * F.log(
                (F.col("n_risk") - F.col("n_ev")).cast("double")
                / F.col("n_risk").cast("double")
            )
        ).cast("bigint"),
    )
    terms = risk.filter(F.col("n_ev") > 0).select(
        "t", "n_ev", "n_risk", ln_micro.alias("ln_micro")
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    cum = terms.select(
        "t",
        "n_ev",
        "n_risk",
        F.sum(F.coalesce("ln_micro", F.lit(0).cast("bigint")))
        .over(w_cum)
        .cast("bigint")
        .alias("cum_ln"),
        F.max(F.when(F.col("ln_micro").isNull(), 1).otherwise(0))
        .over(w_cum)
        .alias("died_out"),
    )
    return cum.select(
        F.col("t").alias("duration_days"),
        F.col("n_risk").alias("n_at_risk"),
        F.col("n_ev").alias("n_events"),
        F.when(F.col("died_out") == 1, F.lit(0.0))
        .otherwise(
            F.round(F.exp(F.col("cum_ln").cast("double") / F.lit(1000000.0)), 6)
        )
        .alias("survival"),
    ).orderBy("duration_days")


# ---------------------------------------------------------------------------
# q353 — Chapman capture-recapture estimate of the duplicated-doc
# population from two PARTIAL dup detectors: detector A buckets docs
# by the hash of the FIRST half of their tokens, detector B by the
# SECOND half (a doc is "captured" when its bucket holds >1 doc). A
# near-dup whose edit falls in the second half is caught by A but not
# B, and vice versa — two overlapping noisy catches, which is exactly
# the capture-recapture setting. N_hat = (nA+1)(nB+1)/(m+1) - 1
# estimates how many dups exist INCLUDING the ones neither detector
# saw — the honest "what are we missing" number a dedup pipeline
# audit needs. Exact integer counts; one 6dp division.
# ---------------------------------------------------------------------------
@query(
    "q353_capture_recapture",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS tk FROM documents),
    keys AS (
        SELECT doc_id,
               md5(coalesce(array_to_string(tk[1:greatest(len(tk) // 2, 1)], ' '), '')) AS k_a,
               md5(coalesce(array_to_string(tk[greatest(len(tk) // 2, 1) + 1:], ' '), '')) AS k_b
        FROM toks
    ),
    caught_a AS (
        SELECT doc_id FROM (
            SELECT doc_id, count(*) OVER (PARTITION BY k_a) AS n FROM keys) WHERE n > 1
    ),
    caught_b AS (
        SELECT doc_id FROM (
            SELECT doc_id, count(*) OVER (PARTITION BY k_b) AS n FROM keys) WHERE n > 1
    ),
    counts AS (
        SELECT CAST((SELECT count(*) FROM caught_a) AS BIGINT) AS n_a,
               CAST((SELECT count(*) FROM caught_b) AS BIGINT) AS n_b,
               CAST((SELECT count(*) FROM caught_a a
                     JOIN caught_b b ON a.doc_id = b.doc_id) AS BIGINT) AS n_both
    )
    SELECT n_a, n_b, n_both,
           n_a + n_b - n_both AS n_union,
           round((CAST(n_a + 1 AS DOUBLE) * CAST(n_b + 1 AS DOUBLE))
                 / CAST(n_both + 1 AS DOUBLE) - 1.0, 6) AS chapman_estimate
    FROM counts
    """,
)
def q353_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tk = tokens("text")
    half = F.greatest(F.floor(F.size(tk) / 2).cast("int"), F.lit(1))
    # coalesce(''): a NULL text makes the slices NULL on Spark
    # (md5 -> NULL) while the pinned oracle spec is md5('') — same
    # rule as the fingerprint family (review finding).
    keys = docs.select(
        "doc_id",
        F.md5(F.coalesce(F.array_join(F.slice(tk, 1, half), " "), F.lit(""))).alias("k_a"),
        F.md5(
            F.coalesce(
                F.array_join(
                    F.slice(tk, half + 1, F.greatest(F.size(tk) - half, F.lit(0))), " "
                ),
                F.lit(""),
            )
        ).alias("k_b"),
    )
    # keys feeds FOUR plan branches (each caught() aggregate build
    # side + join probe side, twice): materialize so the corpus
    # tokenize + md5 lineage runs once, not four times (review
    # finding; the subplans differ so AQE exchange reuse can't help).
    from pipeline_usnvc_spark.operators.checkpoint import materialize

    keys = materialize(keys)

    def caught(col: str) -> DataFrame:
        # bucket sizes are bucket-grain (unbounded) — a plain shuffle
        # join, never a broadcast
        sizes = keys.groupBy(col).agg(F.count("*").alias("nk")).filter(F.col("nk") > 1)
        return keys.join(sizes.select(col), col).select("doc_id")

    marks = (
        caught("k_a")
        .withColumn("in_a", F.lit(1))
        .join(caught("k_b").withColumn("in_b", F.lit(1)), "doc_id", "full_outer")
    )
    counts = marks.agg(
        F.sum(F.coalesce("in_a", F.lit(0))).cast("bigint").alias("n_a"),
        F.sum(F.coalesce("in_b", F.lit(0))).cast("bigint").alias("n_b"),
        F.sum(
            F.when(F.col("in_a").isNotNull() & F.col("in_b").isNotNull(), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("n_both"),
    )
    return counts.select(
        "n_a",
        "n_b",
        "n_both",
        (F.col("n_a") + F.col("n_b") - F.col("n_both")).alias("n_union"),
        F.round(
            (F.col("n_a") + 1).cast("double")
            * (F.col("n_b") + 1).cast("double")
            / (F.col("n_both") + 1).cast("double")
            - F.lit(1.0),
            6,
        ).alias("chapman_estimate"),
    )


# ---------------------------------------------------------------------------
# q354 — pairwise mutual information between the three lineitem
# categorical columns (returnflag, linestatus, tax-cents bucket): the
# "which metadata columns are redundant" matrix that generalizes
# q348's single info-gain. Each pair reduces to its contingency
# lattice (<= 7x7x2 cells) in one row-grain groupBy per pair; MI
# terms follow the q330/q332 micro-ln discipline — the ln argument is
# the exact integer ratio (c_xy*N)/(c_x*c_y), weighted by the exact
# HUGEINT cell count, summed exactly, divided once.
# ---------------------------------------------------------------------------
# the synthetic lineitem has no shipmode; tax lands on exact cent
# values, so round(l_tax*100) is a small stable categorical domain
_MI_TAX = "CAST(round(l_tax * 100) AS BIGINT)"
_MI_PAIRS = [
    ("l_returnflag", "l_linestatus"),
    ("l_returnflag", "tax_cents"),
    ("l_linestatus", "tax_cents"),
]


def _mi_pair_oracle(a: str, b: str) -> str:
    return f"""
    SELECT '{a}' AS col_a, '{b}' AS col_b, n,
           round(CAST(w_sum AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0), 6) AS mi_nats
    FROM (
        SELECT CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(CAST(c AS HUGEINT)
                        * CAST(round(1000000.0 * ln(CAST(c AS DOUBLE) * CAST(nt AS DOUBLE)
                                                    / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE))))
                               AS HUGEINT)) AS HUGEINT) AS w_sum
        FROM (
            SELECT c, nt,
                   CAST(sum(c) OVER (PARTITION BY va) AS BIGINT) AS ca,
                   CAST(sum(c) OVER (PARTITION BY vb) AS BIGINT) AS cb
            FROM (
                SELECT {a} AS va, {b} AS vb, CAST(count(*) AS BIGINT) AS c,
                       CAST(sum(count(*)) OVER () AS BIGINT) AS nt
                FROM (SELECT l_returnflag, l_linestatus,
                             CAST(round(l_tax * 100) AS BIGINT) AS tax_cents
                      FROM lineitem)
                GROUP BY 1, 2
            )
        )
    )
    """


@query(
    "q354_mi_matrix",
    oracle=" UNION ALL ".join(
        f"SELECT * FROM ({_mi_pair_oracle(a, b)})" for a, b in _MI_PAIRS
    )
    + " ORDER BY col_a, col_b",
)
def q354_mi_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.round(F.col("l_tax") * 100).cast("bigint").alias("tax_cents"),
    )

    def mi(a: str, b: str) -> DataFrame:
        cells = li.groupBy(F.col(a).alias("va"), F.col(b).alias("vb")).agg(
            F.count("*").cast("bigint").alias("c")
        )
        w_all = Window.partitionBy()
        margins = cells.select(
            "c",
            F.sum("c").over(w_all).cast("bigint").alias("nt"),
            F.sum("c").over(Window.partitionBy("va")).cast("bigint").alias("ca"),
            F.sum("c").over(Window.partitionBy("vb")).cast("bigint").alias("cb"),
        )
        w_micro = _d38(F.col("c")) * F.round(
            F.lit(1000000.0)
            * F.log(
                F.col("c").cast("double")
                * F.col("nt").cast("double")
                / (F.col("ca").cast("double") * F.col("cb").cast("double"))
            )
        ).cast("decimal(38,0)")
        return margins.agg(
            F.sum("c").cast("bigint").alias("n"),
            F.sum(w_micro).cast("decimal(38,0)").alias("w_sum"),
        ).select(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            "n",
            F.round(
                F.col("w_sum").cast("double")
                / (F.col("n").cast("double") * F.lit(1000000.0)),
                6,
            ).alias("mi_nats"),
        )

    out = mi(*_MI_PAIRS[0])
    for a, b in _MI_PAIRS[1:]:
        out = out.unionByName(mi(a, b))
    return out.orderBy("col_a", "col_b")


# ---------------------------------------------------------------------------
# q355 — per-brand NDCG@10: retail price as the retrieval score,
# revenue-quartile grades as relevance — the ranking-quality metric
# every search/RAG eval loop reports. Both rankings are total orders
# (partkey tie-breaks), the position weights 1/log2(i+1) are
# micro-rounded integers from the same expression on both engines, so
# DCG and IDCG are EXACT integer dot products and NDCG is one final
# division. Grain: part-brand windows (bounded per brand), then the
# brand spine.
# ---------------------------------------------------------------------------
@query(
    "q355_ndcg_eval",
    oracle="""
    WITH rev AS (
        SELECT l_partkey AS p_partkey,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM lineitem GROUP BY 1
    ),
    graded AS (
        SELECT p.p_brand, p.p_partkey, p.p_retailprice, r.rev_cents,
               4 - ntile(4) OVER (PARTITION BY p.p_brand
                                  ORDER BY r.rev_cents DESC, p.p_partkey) AS grade
        FROM part p JOIN rev r ON r.p_partkey = p.p_partkey
    ),
    ranked AS (
        SELECT p_brand, grade,
               CAST(row_number() OVER (PARTITION BY p_brand
                    ORDER BY p_retailprice DESC, p_partkey) AS BIGINT) AS pos,
               CAST(row_number() OVER (PARTITION BY p_brand
                    ORDER BY grade DESC, rev_cents DESC, p_partkey) AS BIGINT) AS ideal_pos
        FROM graded
    ),
    dcg AS (
        SELECT p_brand,
               CAST(sum(CASE WHEN pos <= 10
                    THEN (CAST(pow(2, grade) AS BIGINT) - 1)
                         * CAST(round(1000000.0 / log2(CAST(pos AS DOUBLE) + 1.0)) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS dcg_micro,
               CAST(sum(CASE WHEN ideal_pos <= 10
                    THEN (CAST(pow(2, grade) AS BIGINT) - 1)
                         * CAST(round(1000000.0 / log2(CAST(ideal_pos AS DOUBLE) + 1.0)) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS idcg_micro,
               CAST(count(*) AS BIGINT) AS n_parts
        FROM ranked GROUP BY p_brand
    )
    SELECT p_brand, n_parts,
           round(CAST(dcg_micro AS DOUBLE) / 1000000.0, 6) AS dcg,
           round(CAST(idcg_micro AS DOUBLE) / 1000000.0, 6) AS idcg,
           CASE WHEN idcg_micro > 0
                THEN round(CAST(dcg_micro AS DOUBLE) / CAST(idcg_micro AS DOUBLE), 6)
                ELSE NULL END AS ndcg_at_10
    FROM dcg ORDER BY p_brand
    """,
)
def q355_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    graded = part.join(rev, "p_partkey").select(
        "p_brand",
        "p_partkey",
        "p_retailprice",
        "rev_cents",
        (F.lit(4) - F.ntile(4).over(w_grade)).alias("grade"),
    )
    w_pos = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )
    w_ideal = Window.partitionBy("p_brand").orderBy(
        F.col("grade").desc(), F.col("rev_cents").desc(), F.col("p_partkey")
    )
    ranked = graded.select(
        "p_brand",
        "grade",
        F.row_number().over(w_pos).cast("bigint").alias("pos"),
        F.row_number().over(w_ideal).cast("bigint").alias("ideal_pos"),
    )

    def term(pos_col: str):
        gain = F.pow(F.lit(2), F.col("grade")).cast("bigint") - 1
        w = F.round(
            F.lit(1000000.0) / F.log2(F.col(pos_col).cast("double") + F.lit(1.0))
        ).cast("bigint")
        return F.when(F.col(pos_col) <= 10, gain * w).otherwise(0)

    dcg = ranked.groupBy("p_brand").agg(
        F.sum(term("pos")).cast("bigint").alias("dcg_micro"),
        F.sum(term("ideal_pos")).cast("bigint").alias("idcg_micro"),
        F.count("*").cast("bigint").alias("n_parts"),
    )
    return dcg.select(
        "p_brand",
        "n_parts",
        F.round(F.col("dcg_micro").cast("double") / F.lit(1000000.0), 6).alias("dcg"),
        F.round(F.col("idcg_micro").cast("double") / F.lit(1000000.0), 6).alias(
            "idcg"
        ),
        F.when(
            F.col("idcg_micro") > 0,
            F.round(
                F.col("dcg_micro").cast("double") / F.col("idcg_micro").cast("double"),
                6,
            ),
        ).alias("ndcg_at_10"),
    ).orderBy("p_brand")


# ---------------------------------------------------------------------------
# q356 — AUC-ROC of the q345 logistic length score predicting the
# 'en' label, via the rank-sum identity AUC = U/(n1*n0) with exact
# tie handling: on the score-value spine, U2 = sum(2*pos_v*negs_below
# + pos_v*neg_v) doubles the tie half-credit so everything stays an
# exact integer; AUC and Gini are single final divisions. The q313
# mid-rank trick applied to the classifier-eval metric.
# ---------------------------------------------------------------------------
@query(
    "q356_auc_roc",
    oracle=f"""
    WITH scored AS (
        SELECT {_DOC_SCORE_SQL} AS v,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    spine AS (
        SELECT v, CAST(sum(y) AS BIGINT) AS n_pos,
               CAST(count(*) - sum(y) AS BIGINT) AS n_neg
        FROM scored GROUP BY v
    ),
    cum AS (
        SELECT n_pos, n_neg,
               CAST(coalesce(sum(n_neg) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                   AS negs_below
        FROM spine
    ),
    agg AS (
        SELECT CAST(sum(n_pos) AS BIGINT) AS n1,
               CAST(sum(n_neg) AS BIGINT) AS n0,
               CAST(sum(CAST(n_pos AS HUGEINT) * (2 * negs_below + n_neg)) AS HUGEINT) AS u2
        FROM cum
    )
    SELECT n1 AS n_pos, n0 AS n_neg,
           round(CAST(u2 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)), 6) AS auc,
           round(CAST(u2 AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)) - 1.0, 6) AS gini
    FROM agg
    """,
)
def q356_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    v = doc_score_micro()
    scored = docs.select(
        v.alias("v"), F.when(F.col("lang") == "en", 1).otherwise(0).alias("y")
    )
    spine = scored.groupBy("v").agg(
        F.sum("y").cast("bigint").alias("n_pos"),
        (F.count("*") - F.sum("y")).cast("bigint").alias("n_neg"),
    )
    w_below = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = spine.select(
        "n_pos",
        "n_neg",
        F.coalesce(F.sum("n_neg").over(w_below), F.lit(0))
        .cast("bigint")
        .alias("negs_below"),
    )
    agg = cum.agg(
        F.sum("n_pos").cast("bigint").alias("n1"),
        F.sum("n_neg").cast("bigint").alias("n0"),
        F.sum(_d38(F.col("n_pos")) * _d38(2 * F.col("negs_below") + F.col("n_neg")))
        .cast("decimal(38,0)")
        .alias("u2"),
    )
    n1, n0 = F.col("n1").cast("double"), F.col("n0").cast("double")
    u2 = F.col("u2").cast("double")
    return agg.select(
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        F.round(u2 / (F.lit(2.0) * n1 * n0), 6).alias("auc"),
        F.round(u2 / (n1 * n0) - F.lit(1.0), 6).alias("gini"),
    )


# ---------------------------------------------------------------------------
# q357 — Cohen's kappa between the q31 stopword-marker language
# detector and the labeled language: chance-corrected agreement, the
# honest version of raw accuracy for auto-labeling pipelines. kappa =
# (N*sum_diag - sum_l row_l*col_l) / (N^2 - sum_l row_l*col_l) — an
# exact integer numerator and denominator from the confusion-lattice
# counts, one final division. Detector logic is shared with q31
# (functions.text.lang_id / the same CASE tree in SQL).
# ---------------------------------------------------------------------------
def _kappa_detect_sql() -> str:
    from pipeline_usnvc_spark.plans.text_queries import _L

    return f"""
        SELECT lang,
               CASE
                 WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                 WHEN s_de > 0 AND s_de >= s_fr AND s_de >= s_es THEN 'de'
                 WHEN s_fr > 0 AND s_fr >= s_es THEN 'fr'
                 WHEN s_es > 0 THEN 'es'
                 ELSE 'und'
               END AS detected
        FROM (
            SELECT lang,
                   {_L['en']} AS s_en, {_L['de']} AS s_de,
                   {_L['fr']} AS s_fr, {_L['es']} AS s_es
            FROM (SELECT lang, {_TOKS_SQL} AS toks FROM documents)
        )
    """


_KAPPA_ORACLE = """
    WITH pairs AS ({DETECT}),
    cells AS (
        SELECT lang, detected, CAST(count(*) AS BIGINT) AS c
        FROM pairs GROUP BY 1, 2
    ),
    margins AS (
        SELECT CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(CASE WHEN lang = detected THEN c ELSE 0 END) AS BIGINT) AS diag
        FROM cells
    ),
    chance AS (
        SELECT CAST(sum(CAST(r.rc AS HUGEINT) * c.cc) AS HUGEINT) AS rc_sum
        FROM (SELECT lang AS l, CAST(sum(c) AS BIGINT) AS rc FROM cells GROUP BY 1) r
        JOIN (SELECT detected AS l, CAST(sum(c) AS BIGINT) AS cc FROM cells GROUP BY 1) c
          ON c.l = r.l
    )
    SELECT m.n AS n_docs, m.diag AS n_agree,
           round(CAST(m.diag AS DOUBLE) / CAST(m.n AS DOUBLE), 6) AS p_observed,
           round(CAST(ch.rc_sum AS DOUBLE) / (CAST(m.n AS DOUBLE) * CAST(m.n AS DOUBLE)), 6)
               AS p_chance,
           round(CAST(CAST(m.n AS HUGEINT) * m.diag - ch.rc_sum AS DOUBLE)
                 / CAST(CAST(m.n AS HUGEINT) * m.n - ch.rc_sum AS DOUBLE), 6) AS kappa
    FROM margins m CROSS JOIN chance ch
"""


@query(
    "q357_cohens_kappa",
    oracle=_KAPPA_ORACLE.replace("{DETECT}", _kappa_detect_sql()),
)
def q357_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.functions.text import lang_id

    docs = load_table(spark, sf_dir, "documents")
    cells = (
        docs.select("lang", lang_id("text").alias("detected"))
        .groupBy("lang", "detected")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    margins = cells.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.when(F.col("lang") == F.col("detected"), F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("diag"),
    )
    rows = cells.groupBy(F.col("lang").alias("l")).agg(
        F.sum("c").cast("bigint").alias("rc")
    )
    colsm = cells.groupBy(F.col("detected").alias("l")).agg(
        F.sum("c").cast("bigint").alias("cc")
    )
    chance = (
        rows.join(colsm, "l")
        .agg(F.sum(_d38(F.col("rc")) * _d38(F.col("cc"))).cast("decimal(38,0)").alias("rc_sum"))
    )
    j = margins.crossJoin(F.broadcast(chance))
    n = F.col("n").cast("double")
    return j.select(
        F.col("n").alias("n_docs"),
        F.col("diag").alias("n_agree"),
        F.round(F.col("diag").cast("double") / n, 6).alias("p_observed"),
        F.round(F.col("rc_sum").cast("double") / (n * n), 6).alias("p_chance"),
        F.round(
            (_d38(F.col("n")) * _d38(F.col("diag")) - F.col("rc_sum")).cast("double")
            / (_d38(F.col("n")) * _d38(F.col("n")) - F.col("rc_sum")).cast("double"),
            6,
        ).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# q358 — precision/recall/F1 sweep over the 10 confidence deciles of
# the q345 logistic score: the threshold-selection table a quality
# gate ships with. Cumulative-from-above TP/FP sums over the 10-bin
# spine are exact integers; each metric is one division, NULL-guarded
# identically on both engines when a threshold predicts nothing.
# ---------------------------------------------------------------------------
@query(
    "q358_pr_curve",
    oracle=f"""
    WITH scored AS (
        SELECT least({_DOC_SCORE_SQL} // 100000, 9) AS bin,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    per_bin AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS x
        FROM scored GROUP BY bin
    ),
    thresholds AS (SELECT unnest(range(0, 10)) AS t),
    cum AS (
        SELECT t.t,
               CAST(coalesce(sum(p.x), 0) AS BIGINT) AS tp,
               CAST(coalesce(sum(p.n - p.x), 0) AS BIGINT) AS fp
        FROM thresholds t
        LEFT JOIN per_bin p ON p.bin >= t.t
        GROUP BY t.t
    ),
    tot AS (SELECT CAST(sum(x) AS BIGINT) AS pos FROM per_bin)
    SELECT CAST(c.t AS BIGINT) AS threshold_bin, tp, fp, tot.pos - tp AS fn,
           CASE WHEN tp + fp > 0
                THEN round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) END AS precision_,
           round(CAST(tp AS DOUBLE) / CAST(tot.pos AS DOUBLE), 6) AS recall_,
           CASE WHEN 2 * tp + fp + (tot.pos - tp) > 0
                THEN round(2.0 * CAST(tp AS DOUBLE)
                           / CAST(2 * tp + fp + (tot.pos - tp) AS DOUBLE), 6) END AS f1
    FROM cum c CROSS JOIN tot
    ORDER BY threshold_bin
    """,
)
def q358_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    conf_micro = doc_score_micro()
    scored = docs.select(
        F.least(F.floor(conf_micro / 100000).cast("bigint"), F.lit(9)).alias("bin"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    per_bin = scored.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n"), F.sum("y").cast("bigint").alias("x")
    )
    thresholds = spark.range(0, 10).select(
        F.col("id").cast("bigint").alias("t")
    )
    cum = (
        thresholds.join(F.broadcast(per_bin), F.col("bin") >= F.col("t"), "left")
        .groupBy("t")
        .agg(
            F.coalesce(F.sum("x"), F.lit(0)).cast("bigint").alias("tp"),
            F.coalesce(F.sum(F.col("n") - F.col("x")), F.lit(0))
            .cast("bigint")
            .alias("fp"),
        )
    )
    tot = per_bin.agg(F.sum("x").cast("bigint").alias("pos"))
    j = cum.crossJoin(F.broadcast(tot))
    tp, fp = F.col("tp"), F.col("fp")
    fn = F.col("pos") - tp
    return j.select(
        F.col("t").alias("threshold_bin"),
        "tp",
        "fp",
        fn.alias("fn"),
        F.when(
            tp + fp > 0, F.round(tp.cast("double") / (tp + fp).cast("double"), 6)
        ).alias("precision_"),
        F.round(tp.cast("double") / F.col("pos").cast("double"), 6).alias("recall_"),
        F.when(
            2 * tp + fp + fn > 0,
            F.round(
                F.lit(2.0) * tp.cast("double") / (2 * tp + fp + fn).cast("double"), 6
            ),
        ).alias("f1"),
    ).orderBy("threshold_bin")


# ---------------------------------------------------------------------------
# q359 — one exact power-iteration step toward the top principal
# direction of the (uncentered) embedding second-moment matrix:
# v1 = X^T (X v0) with v0 = ones — the distributed spectral-method
# kernel (the Krylov step behind PCA/PageRank/spectral clustering)
# computed WITHOUT materializing the d x d gram matrix: one row-grain
# sum (X v0 = row sums), one dim-grain sum (X^T of it). Components
# are quantized to exact integers (floor(x*1e7), the q173
# discipline), so both matvecs are EXACT DECIMAL(38,0) sums; the
# final normalization floor-divides by 1e12 first (sign-correct via
# the +C shift) so the squared norm stays inside DECIMAL(38,0) —
# headroom to ~1e9 vectors, beyond which raise the divisor.
# Deterministic up to the fixed v0, hence oracle-exact.
# ---------------------------------------------------------------------------
@query(
    "q359_pca_power_iteration",
    oracle="""
    WITH comps AS (
        SELECT vec_id, dim,
               CAST(floor(CAST(x AS DOUBLE) * 10000000) AS BIGINT) AS q
        FROM (
            SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS dim
            FROM embeddings
        )
    ),
    rowsums AS (
        SELECT vec_id, CAST(sum(q) AS BIGINT) AS r FROM comps GROUP BY vec_id
    ),
    v1 AS (
        SELECT c.dim,
               CAST(sum(CAST(c.q AS HUGEINT) * rs.r) AS HUGEINT) AS v,
               CAST(count(*) AS BIGINT) AS n_vectors
        FROM comps c JOIN rowsums rs ON rs.vec_id = c.vec_id
        GROUP BY c.dim
    ),
    scaled AS (
        SELECT dim, n_vectors,
               ((v + CAST(10000000000 AS HUGEINT) * 1000000000000
                 - (v + CAST(10000000000 AS HUGEINT) * 1000000000000) % 1000000000000)
                // 1000000000000) - 10000000000 AS u
        FROM v1
    ),
    norm AS (
        SELECT CAST(sum(CAST(u AS HUGEINT) * u) AS HUGEINT) AS n2 FROM scaled
    )
    SELECT CAST(s.dim AS BIGINT) AS dim, s.n_vectors,
           round(CAST(s.u AS DOUBLE) / sqrt(CAST(n.n2 AS DOUBLE)), 6) AS component
    FROM scaled s CROSS JOIN norm n
    ORDER BY dim
    """,
)
def q359_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.functions.vectors import to_double_array

    emb = load_table(spark, sf_dir, "embeddings")
    comps = emb.select(
        "vec_id", F.posexplode(to_double_array("embedding")).alias("pos", "x")
    ).select(
        "vec_id",
        (F.col("pos") + 1).cast("bigint").alias("dim"),
        F.floor(F.col("x") * 10000000).cast("bigint").alias("q"),
    )
    rowsums = comps.groupBy("vec_id").agg(F.sum("q").cast("bigint").alias("r"))
    v1 = (
        comps.join(rowsums, "vec_id")
        .groupBy("dim")
        .agg(
            F.sum(_d38(F.col("q")) * _d38(F.col("r")))
            .cast("decimal(38,0)")
            .alias("v"),
            F.count("*").cast("bigint").alias("n_vectors"),
        )
    )
    S = F.lit(1000000000000).cast("decimal(38,0)")
    C = F.lit(10000000000).cast("decimal(38,0)")
    shifted = F.col("v") + C * S
    u = ((shifted - F.pmod(shifted, S)) / S - C).cast("decimal(38,0)")
    scaled = v1.select("dim", "n_vectors", u.alias("u"))
    norm = scaled.agg(
        F.sum(F.col("u") * F.col("u")).cast("decimal(38,0)").alias("n2")
    )
    return (
        scaled.crossJoin(F.broadcast(norm))
        .select(
            "dim",
            "n_vectors",
            F.round(
                F.col("u").cast("double") / F.sqrt(F.col("n2").cast("double")), 6
            ).alias("component"),
        )
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# q360 — Holt-Winters additive seasonal smoothing (period 7,
# alpha=0.5, beta=0.3, gamma=0.3) of daily revenue: the seasonal
# upgrade of q333's Holt linear, closing the forecasting family
# (linear regression q154 -> seasonal-naive q294 -> Holt q333 -> HW).
# Same sequential-fold parity argument: the recurrence steps
# LEFT-TO-RIGHT over the day-sorted series with the IDENTICAL
# floating-point expression tree on both engines (Spark: F.aggregate
# with an (l, b, seasonal[7]) struct state; DuckDB: a recursive CTE
# carrying the same DOUBLE[7] list), so the smoothed state is
# bit-deterministic. Crude-but-deterministic init (l=y1, b=0, s=0s)
# on BOTH engines — the gamma updates learn the seasonal slots.
# Day grain is calendar-bounded; the collected array is a few KB.
# ---------------------------------------------------------------------------
@query(
    "q360_holt_winters",
    oracle="""
    WITH RECURSIVE daily AS (
        SELECT CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    series AS (
        SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i,
               d % 7 AS dow, CAST(cents AS DOUBLE) AS y
        FROM daily
    ),
    hw(i, l, b, s) AS (
        SELECT CAST(1 AS BIGINT), y, CAST(0.0 AS DOUBLE),
               [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]::DOUBLE[]
        FROM series WHERE i = 1
        UNION ALL
        SELECT h.i + 1,
               0.5 * (e.y - h.s[e.dow + 1]) + 0.5 * (h.l + h.b),
               0.3 * ((0.5 * (e.y - h.s[e.dow + 1]) + 0.5 * (h.l + h.b)) - h.l)
                 + 0.7 * h.b,
               list_transform(range(7), k -> CASE WHEN k = e.dow
                   THEN 0.3 * (e.y - (0.5 * (e.y - h.s[e.dow + 1]) + 0.5 * (h.l + h.b)))
                        + 0.7 * h.s[e.dow + 1]
                   ELSE h.s[k + 1] END)
        FROM hw h JOIN series e ON e.i = h.i + 1
    ),
    final AS (
        SELECT hw.l, hw.b, hw.s,
               (SELECT max(i) FROM series) AS n,
               (SELECT max(d) FROM daily) AS dmax
        FROM hw WHERE i = (SELECT max(i) FROM series)
    )
    SELECT n AS n_days,
           round(l / 100.0, 6) AS level_dollars,
           round(b / 100.0, 6) AS trend_dollars,
           round((l + b + s[CAST((dmax + 1) % 7 AS BIGINT) + 1]) / 100.0, 6)
               AS forecast_dollars,
           round((list_aggregate(s, 'max') - list_aggregate(s, 'min')) / 100.0, 6)
               AS seasonal_amplitude_dollars
    FROM final
    """,
)
def q360_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("bigint")
        .alias("d")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    one = daily.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("d"),
                    F.pmod(F.col("d"), F.lit(7)).cast("bigint").alias("dow"),
                    F.col("cents").cast("double").alias("y"),
                )
            )
        ).alias("arr"),
        F.max("d").cast("bigint").alias("dmax"),
    )
    arr = F.col("arr")
    rest = F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0)))
    zeros = F.array(*[F.lit(0.0) for _ in range(7)])
    init = F.struct(
        F.element_at(arr, 1)["y"].alias("l"),
        F.lit(0.0).alias("b"),
        zeros.alias("s"),
    )

    def step(acc, e):
        s_prev = F.element_at(acc["s"], (e["dow"] + 1).cast("int"))
        l_new = F.lit(0.5) * (e["y"] - s_prev) + F.lit(0.5) * (acc["l"] + acc["b"])
        b_new = F.lit(0.3) * (l_new - acc["l"]) + F.lit(0.7) * acc["b"]
        s_val = F.lit(0.3) * (e["y"] - l_new) + F.lit(0.7) * s_prev
        s_arr = F.transform(
            F.sequence(F.lit(0), F.lit(6)),
            lambda k: F.when(k.cast("bigint") == e["dow"], s_val).otherwise(
                F.element_at(acc["s"], (k + 1).cast("int"))
            ),
        )
        return F.struct(l_new.alias("l"), b_new.alias("b"), s_arr.alias("s"))

    folded = one.select(
        F.size(arr).cast("bigint").alias("n_days"),
        F.col("dmax"),
        F.aggregate(rest, init, step).alias("st"),
    )
    s_next = F.element_at(
        F.col("st.s"), (F.pmod(F.col("dmax") + 1, F.lit(7)) + 1).cast("int")
    )
    return folded.select(
        "n_days",
        F.round(F.col("st.l") / F.lit(100.0), 6).alias("level_dollars"),
        F.round(F.col("st.b") / F.lit(100.0), 6).alias("trend_dollars"),
        F.round(
            (F.col("st.l") + F.col("st.b") + s_next) / F.lit(100.0), 6
        ).alias("forecast_dollars"),
        F.round(
            (F.array_max(F.col("st.s")) - F.array_min(F.col("st.s")))
            / F.lit(100.0),
            6,
        ).alias("seasonal_amplitude_dollars"),
    )


# ---------------------------------------------------------------------------
# q361 — STREAMING native session-window aggregation (rows-only:
# stateful streaming): F.session_window under a 1 h watermark in
# append mode — the built-in gap-merging session operator q103
# exercises in batch, here driven through Structured Streaming's
# state store where sessions only emit once the watermark proves no
# further event can extend them. Watermark-certified emission audit
# (the q337 pattern): the streamed output full-outer-joins the batch
# session_window recompute — every emitted session must match a
# batch session exactly (start, count, exact cent sum), every batch
# session that provably closed (end < final watermark) must have
# emitted, and sessions still extendable at end-of-stream must NOT
# have emitted. Any divergence EXISTS as a row the executed contract
# evaluates.
# ---------------------------------------------------------------------------
@query("q361_stream_session_window")
def q361_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.contracts import contract_filter
    from pipeline_usnvc_spark.streaming.pipeline import (
        read_event_stream,
        run_stream_to_memory,
    )

    gap = "30 minutes"
    cents = F.sum(F.floor(F.col("value") * 100).cast("bigint")).cast("bigint")
    stream = read_event_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    sess = (
        stream.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").cast("bigint").alias("n_events"), cents.alias("cents"))
        .select(
            "user_id",
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "n_events",
            "cents",
        )
    )
    streamed = run_stream_to_memory(
        sess, "q361_stream_session_window", output_mode="append"
    ).withColumn("in_stream", F.lit(True))

    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").cast("bigint").alias("b_n"), cents.alias("b_cents"))
        .select(
            F.col("user_id").alias("b_user"),
            F.col("w.start").alias("b_start"),
            F.col("w.end").alias("b_end"),
            "b_n",
            "b_cents",
        )
    )
    wm = ev.agg((F.max("ts") - F.expr("INTERVAL 1 hour")).alias("wm_ts"))
    expected = (
        batch.crossJoin(F.broadcast(wm))
        .withColumn("in_batch", F.lit(True))
        # strict inequality: only sessions whose merged window closed
        # BEFORE the final watermark are certified emitted; boundary
        # sessions may legitimately still sit in state
        .withColumn("certified", F.col("b_end") < F.col("wm_ts"))
    )
    joined = streamed.join(
        expected,
        (F.col("user_id") == F.col("b_user")) & (F.col("w_start") == F.col("b_start")),
        "full_outer",
    )
    emitted_matches = (
        F.col("in_stream").isNotNull()
        & F.col("in_batch").isNotNull()
        & (F.col("w_end") == F.col("b_end"))
        & (F.col("n_events") == F.col("b_n"))
        & (F.col("cents") == F.col("b_cents"))
    )
    pending_ok = (
        F.col("in_stream").isNull()
        & F.col("in_batch").isNotNull()
        & ~F.col("certified")
    )
    return (
        contract_filter(
            joined,
            emitted_matches | pending_ok,
            F.concat(
                F.lit("stream session-window divergence for user "),
                F.coalesce(
                    F.col("user_id").cast("string"),
                    F.col("b_user").cast("string"),
                    F.lit("null"),
                ),
                F.lit(": stream n="),
                F.coalesce(F.col("n_events").cast("string"), F.lit("absent")),
                F.lit(" batch n="),
                F.coalesce(F.col("b_n").cast("string"), F.lit("absent")),
                F.lit(" certified="),
                F.coalesce(F.col("certified").cast("string"), F.lit("null")),
            ),
        )
        .filter(F.col("in_stream").isNotNull())
        .select("user_id", "w_start", "w_end", "n_events", "cents")
    )


# ---------------------------------------------------------------------------
# q362 — exact embedding gram (second-moment) matrix via an
# Arrow-vectorized outer-product kernel: the d x d matrix every
# PCA/whitening/linear-probe step needs, computed the way it scales —
# mapInPandas accumulates Q^T Q per Arrow chunk with numpy int64
# matmuls over quantized components (floor(x*1e7), the q173/q359
# discipline), emits 64x64 PARTIAL integer matrices (2080 upper-
# triangle cells per chunk), and Spark's exact DECIMAL(38,0) sum
# merges them — so the vectorized kernel is certified EXACT against
# the explode-self-join oracle, not approximately close. Chunks are
# capped at 8192 rows so an int64 partial (<= 2.5e13 per-row product
# x 8192) never overflows. Shuffle volume: cells x chunks, never
# rows — the 100 TB shape (this is the distributed matmul that
# replaces q359's matvec when you want the whole spectrum).
# ---------------------------------------------------------------------------
@query(
    "q362_gram_matrix",
    oracle="""
    WITH comps AS (
        SELECT vec_id, dim,
               CAST(floor(CAST(x AS DOUBLE) * 10000000) AS BIGINT) AS q
        FROM (
            SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS dim
            FROM embeddings
        )
    )
    SELECT CAST(a.dim AS BIGINT) AS dim_i, CAST(b.dim AS BIGINT) AS dim_j,
           CAST(sum(CAST(a.q AS HUGEINT) * b.q) AS BIGINT) AS qsum,
           round(CAST(CAST(sum(CAST(a.q AS HUGEINT) * b.q) AS BIGINT) AS DOUBLE)
                 / 100000000000000.0, 6) AS m
    FROM comps a
    JOIN comps b ON b.vec_id = a.vec_id AND b.dim >= a.dim
    GROUP BY a.dim, b.dim
    ORDER BY dim_i, dim_j
    """,
)
def q362_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the suite's ONE quantized-gram kernel (operators/similarity.py —
    # the round-10 review retired this query's inline copy); chunking
    # differences are value-invisible: the cross-chunk merge is the
    # exact DECIMAL sum
    from pipeline_usnvc_spark.operators.similarity import gram_matrix_quantized

    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    agg = gram_matrix_quantized(emb)
    # driver-facing qsum is BIGINT (exact through ~3.7e5 vectors at
    # |q|<=5e6; the internal merge stays DECIMAL(38,0) — at larger
    # corpora report m only)
    return agg.select(
        F.col("dim_i").cast("bigint").alias("dim_i"),
        F.col("dim_j").cast("bigint").alias("dim_j"),
        F.col("sxy").cast("bigint").alias("qsum"),
        F.round(F.col("sxy").cast("double") / F.lit(1e14), 6).alias("m"),
    ).orderBy("dim_i", "dim_j")


# ---------------------------------------------------------------------------
# q363 — ridge-regression linear probe on the embedding table
# (rows-only: the 64x64 solve is not SQL-expressible): the standard
# "are these embeddings any good" eval — fit w = (X^T X + lambda D)^-1
# X^T y against the integer label column (X augmented with an exactly
# quantized bias feature; D leaves the intercept unpenalized, which
# guarantees the in-sample fit can never lose to the intercept-only
# baseline) and report per-dimension weights plus R^2. Distributed shape: the normal-equation
# sufficient statistics are EXACT quantized-integer aggregates (the
# q362 gram kernel + one X^T y matvec — y is an exact integer label,
# so q*y sums are exact), the 2080+64-cell solve happens driver-side
# on bounded grain (the BPE-vocab precedent), and the fit quality is
# re-measured DISTRIBUTED: one more pass computes SSE(w) and
# SSE(mean) with sequential-fold dot products against the broadcast
# weights, and an executed in-plan contract asserts the probe beats
# the intercept-only baseline (R^2 > 0, plus R^2 <= 1 sanity).
# ---------------------------------------------------------------------------
@query("q363_ridge_probe")
def q363_ridge_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from pipeline_usnvc_spark.operators.contracts import contract_filter

    lam = 1.0
    emb = load_table(spark, sf_dir, "embeddings").select("embedding", "label")
    # the shared kernel in label mode: gram cells at (i, j); X^T y at
    # (i, -1); exact label moments at (-1,-1)/(-2,-2)/(-3,-3); the
    # bias feature (x = 1.0 -> q = 1e7) appended inside the kernel
    from pipeline_usnvc_spark.operators.similarity import gram_matrix_quantized

    cells = gram_matrix_quantized(
        emb, label_col="label", add_bias=True
    ).collect()  # bounded grain: 2080 + 64 + 3 exact integers
    gram: dict = {}
    qy: dict = {}
    ys = yy = n = 0
    for r in cells:
        i, j, s = r["dim_i"], r["dim_j"], int(r["sxy"])
        if i == -1:
            ys = s
        elif i == -2:
            yy = s
        elif i == -3:
            n = s
        elif j == -1:
            qy[i] = s
        else:
            gram[(i, j)] = s
    d = max(i for i, _ in gram)
    G = np.zeros((d, d))
    for (i, j), s in gram.items():
        G[i - 1, j - 1] = G[j - 1, i - 1] = s / 1e14
    b = np.array([qy[i] / 1e7 for i in range(1, d + 1)])
    D = np.eye(d)
    D[d - 1, d - 1] = 0.0  # unpenalized intercept (last = bias feature)
    w = np.linalg.solve(G + lam * D, b)

    from pipeline_usnvc_spark.functions.vectors import dot, to_double_array

    w_arr = F.array(*[F.lit(float(x)) for x in w[:-1]])
    pred = dot(to_double_array("embedding"), w_arr) + F.lit(float(w[-1]))
    ybar = ys / n
    # Quantize-first discipline (VERDICT r07 item 7): per-row squared
    # residuals micro-round to integers BEFORE the cross-row sum, so
    # the DECIMAL(38,0) accumulation is fold-order independent and the
    # reported r2 is bit-stable across partitionings; a raw
    # sum(double) here would drift with shuffle layout.
    res = F.col("label").cast("double") - pred
    res_micro = F.round(F.lit(1000000.0) * res * res).cast("bigint")
    # bounded: one-row scalar aggregate
    sses = emb.agg(
        F.sum(_d38(res_micro)).cast("decimal(38,0)").alias("sse_w_micro"),
    ).collect()[0]
    sse_w = float(int(sses["sse_w_micro"])) / 1e6
    sse_mean = yy - n * ybar * ybar
    # Degenerate-label guard (review finding): a CONSTANT label column
    # makes sse_mean exactly 0 — plain Python division would abort the
    # whole run with ZeroDivisionError; report r2 = NULL instead (no
    # variance to explain) and let the contract pass that row through.
    r2 = None if sse_mean <= 0.0 else 1.0 - sse_w / sse_mean
    out = spark.createDataFrame(
        [
            (i + 1, round(float(w[i]), 6), None if r2 is None else round(r2, 6), n)
            for i in range(d)
        ],
        "dim bigint, weight double, r2 double, n_vectors bigint",
    )
    # r2 >= -1e-6 (not 0): w is solved on floor(x*1e7) QUANTIZED
    # features but SSE(w) is measured on raw doubles, so on
    # near-zero-signal data the measured r2 can legitimately dip a
    # quantization-hair below zero; the tolerance keeps the contract
    # about "beats the baseline", not about the quantizer's last ulp.
    return contract_filter(
        out,
        F.col("r2").isNull()
        | ((F.col("r2") >= -1e-6) & (F.col("r2") <= 1.0)),
        F.concat(
            F.lit("ridge probe failed to beat the intercept baseline: r2="),
            F.col("r2").cast("string"),
        ),
    )


# ---------------------------------------------------------------------------
# q364 — exact embedding covariance matrix: the mean-centered twin of
# q362's gram (the actual PCA input). Centering never touches a
# float: cov[i,j] = (n*qsum_ij - s_i*s_j) / n^2 has an EXACT integer
# numerator from the same Arrow int64 kernel (gram cells + per-dim
# component sums ride the same partial stream), so the oracle match
# is exact, not tolerance-based. The final value floor-divides to
# micro-units BEFORE the double division (the q318 half-rounding
# lesson: an integer/denominator quotient can land exactly on a
# rounding half and flip between engines), with the +C shift making
# the floor sign-correct for negative covariances. DECIMAL(38,0)
# headroom: num*1e6 ~ n^2 * 2.5e19 — fine through ~1e9 vectors.
# ---------------------------------------------------------------------------
@query(
    "q364_covariance_matrix",
    oracle="""
    WITH comps AS (
        SELECT vec_id, dim,
               CAST(floor(CAST(x AS DOUBLE) * 10000000) AS BIGINT) AS q
        FROM (
            SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS dim
            FROM embeddings
        )
    ),
    gram AS (
        SELECT a.dim AS i, b.dim AS j,
               CAST(sum(CAST(a.q AS HUGEINT) * b.q) AS HUGEINT) AS qsum
        FROM comps a JOIN comps b ON b.vec_id = a.vec_id AND b.dim >= a.dim
        GROUP BY 1, 2
    ),
    margins AS (
        SELECT dim, CAST(sum(q) AS HUGEINT) AS s, CAST(count(*) AS HUGEINT) AS n
        FROM comps GROUP BY dim
    )
    SELECT CAST(g.i AS BIGINT) AS dim_i, CAST(g.j AS BIGINT) AS dim_j,
           CAST(mi.n AS BIGINT) AS n_vectors,
           CAST(((mi.n * g.qsum - mi.s * mj.s) * 1000000
                  + 1000000 * (mi.n * mi.n * 100000000000000)
                  - ((mi.n * g.qsum - mi.s * mj.s) * 1000000
                     + 1000000 * (mi.n * mi.n * 100000000000000))
                    % (mi.n * mi.n * 100000000000000))
                // (mi.n * mi.n * 100000000000000) - 1000000 AS BIGINT)
             / 1000000.0 AS cov
    FROM gram g
    JOIN margins mi ON mi.dim = g.i
    JOIN margins mj ON mj.dim = g.j
    ORDER BY dim_i, dim_j
    """,
)
def q364_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the shared kernel in dim-sums mode: gram cells at (i, j),
    # per-dim component sums at (i, -1), row count at (-3, -3)
    from pipeline_usnvc_spark.operators.similarity import gram_matrix_quantized

    from pipeline_usnvc_spark.operators.checkpoint import materialize

    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    # Materialized (r13): THREE consumers (gram, margins, nrow) and
    # the q196 runtime-scan audit showed AQE does not reuse the
    # kernel exchange across such consumers — without the cut the
    # X^T X pass runs once per consumer. Dimension-bounded frame
    # (d(d+1)/2 + d + 1 rows).
    cells = materialize(
        gram_matrix_quantized(emb, with_dim_sums=True).withColumnRenamed("sxy", "s")
    )
    gram = cells.filter((F.col("dim_i") > 0) & (F.col("dim_j") > 0)).select(
        F.col("dim_i"), F.col("dim_j"), F.col("s").alias("qsum")
    )
    margins = cells.filter(F.col("dim_j") == -1).select(
        F.col("dim_i").alias("dim"), F.col("s").alias("msum")
    )
    nrow = cells.filter(F.col("dim_i") == -3).select(F.col("s").alias("n"))
    j = (
        gram.join(
            F.broadcast(margins.select(F.col("dim").alias("dim_i"), F.col("msum").alias("si"))),
            "dim_i",
        )
        .join(
            F.broadcast(margins.select(F.col("dim").alias("dim_j"), F.col("msum").alias("sj"))),
            "dim_j",
        )
        .crossJoin(F.broadcast(nrow))
    )
    num = F.col("n") * F.col("qsum") - F.col("si") * F.col("sj")
    den = (F.col("n") * F.col("n") * F.lit(100000000000000).cast("decimal(38,0)")).cast(
        "decimal(38,0)"
    )
    shifted = (num * F.lit(1000000).cast("decimal(38,0)")).cast("decimal(38,0)") + (
        F.lit(1000000).cast("decimal(38,0)") * den
    ).cast("decimal(38,0)")
    cov_micro = ((shifted - F.pmod(shifted, den)) / den).cast("bigint") - F.lit(1000000)
    return j.select(
        F.col("dim_i").cast("bigint").alias("dim_i"),
        F.col("dim_j").cast("bigint").alias("dim_j"),
        F.col("n").cast("bigint").alias("n_vectors"),
        (cov_micro.cast("double") / F.lit(1000000.0)).alias("cov"),
    ).orderBy("dim_i", "dim_j")


# ---------------------------------------------------------------------------
# q365 — split-conformal quantile of the calibration residuals
# |y - conf| at alpha = 0.1: qhat = the ceil((n+1)(1-alpha))-th
# smallest score — the distribution-free prediction-interval radius
# (split conformal prediction). Scores are exact integer micro units
# (|y*1e6 - conf_micro|), the order statistic resolves on the
# score-value spine (cumulative counts, first value reaching k), and
# the guaranteed >= 1-alpha empirical coverage is re-measured and
# asserted by an executed in-plan contract.
# ---------------------------------------------------------------------------
@query(
    "q365_conformal_quantile",
    oracle=f"""
    WITH scored AS (
        SELECT abs(CASE WHEN lang = 'en' THEN 1000000 ELSE 0 END
                   - {_DOC_SCORE_SQL}) AS s
        FROM documents
    ),
    spine AS (SELECT s, CAST(count(*) AS BIGINT) AS c FROM scored GROUP BY s),
    cum AS (
        SELECT s, CAST(sum(c) OVER (ORDER BY s) AS BIGINT) AS cf,
               CAST(sum(c) OVER () AS BIGINT) AS n
        FROM spine
    ),
    k AS (
        SELECT n, least(CAST(ceil(CAST(n + 1 AS DOUBLE) * 0.9) AS BIGINT), n) AS kk
        FROM (SELECT max(n) AS n FROM cum)
    )
    SELECT k.n AS n_docs, k.kk AS k_order,
           CAST(min(c.s) AS BIGINT) AS qhat_micro,
           round(CAST(min(c.s) AS DOUBLE) / 1000000.0, 6) AS qhat,
           round(CAST((SELECT min(cf) FROM cum WHERE cf >= k.kk) AS DOUBLE)
                 / CAST(k.n AS DOUBLE), 6) AS coverage
    FROM cum c CROSS JOIN k
    WHERE c.cf >= k.kk
    GROUP BY k.n, k.kk
    """,
)
def q365_conformal_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.contracts import contract_filter

    docs = load_table(spark, sf_dir, "documents")
    conf_micro = doc_score_micro()
    scored = docs.select(
        F.abs(
            F.when(F.col("lang") == "en", F.lit(1000000)).otherwise(F.lit(0))
            - conf_micro
        ).alias("s")
    )
    spine = scored.groupBy("s").agg(F.count("*").cast("bigint").alias("c"))
    w_cum = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    cum = spine.select(
        "s",
        F.sum("c").over(w_cum).cast("bigint").alias("cf"),
        F.sum("c").over(w_all).cast("bigint").alias("n"),
    )
    k = F.least(
        F.ceil((F.col("n") + 1).cast("double") * F.lit(0.9)).cast("bigint"), F.col("n")
    )
    hit = (
        cum.withColumn("kk", k)
        .filter(F.col("cf") >= F.col("kk"))
        .groupBy("n", "kk")
        .agg(
            F.min("s").cast("bigint").alias("qhat_micro"),
            F.min("cf").cast("bigint").alias("cf_at_qhat"),
        )
    )
    out = hit.select(
        F.col("n").alias("n_docs"),
        F.col("kk").alias("k_order"),
        "qhat_micro",
        F.round(F.col("qhat_micro").cast("double") / F.lit(1000000.0), 6).alias("qhat"),
        F.round(F.col("cf_at_qhat").cast("double") / F.col("n").cast("double"), 6).alias(
            "coverage"
        ),
        (F.col("cf_at_qhat").cast("double") * F.lit(10.0) >= F.col("n").cast("double") * F.lit(9.0)).alias("_cov_ok"),
    )
    return contract_filter(
        out,
        F.col("_cov_ok"),
        F.concat(
            F.lit("split-conformal coverage below 1-alpha: "),
            F.col("coverage").cast("string"),
        ),
    ).drop("_cov_ok")


# ---------------------------------------------------------------------------
# q366 — isotonic recalibration (pool-adjacent-violators) of the
# 10 confidence bins (rows-only: PAVA is an inherently sequential
# pooling pass, run driver-side on the bounded 10-row spine — the
# BPE-vocab precedent — in EXACT rational arithmetic via Fraction).
# Completes the calibration story: q345 measures miscalibration
# (ECE), q366 produces the monotone recalibration map a quality gate
# would actually apply. Executed in-plan contracts: the calibrated
# values are monotone non-decreasing in the bin (exact integer micro
# comparison) and label mass is preserved up to the floor error
# bound |sum(n*cal_micro) - sum(x)*1e6| <= sum(n).
# ---------------------------------------------------------------------------
@query("q366_isotonic_calibration")
def q366_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fractions import Fraction

    from pipeline_usnvc_spark.operators.contracts import contract_filter

    docs = load_table(spark, sf_dir, "documents")
    conf_micro = doc_score_micro()
    per_bin = (
        docs.select(
            F.least(F.floor(conf_micro / 100000).cast("bigint"), F.lit(9)).alias("bin"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        )
        .groupBy("bin")
        .agg(F.count("*").cast("bigint").alias("n"), F.sum("y").cast("bigint").alias("x"))
        .orderBy("bin")
    )
    rows = per_bin.collect()  # bounded grain: <= 10 bins
    # exact-rational PAVA: pool adjacent violators until monotone
    blocks = [
        {"bins": [r["bin"]], "n": r["n"], "x": r["x"], "v": Fraction(r["x"], r["n"])}
        for r in rows
    ]
    i = 0
    while i < len(blocks) - 1:
        if blocks[i]["v"] > blocks[i + 1]["v"]:
            a, b = blocks[i], blocks.pop(i + 1)
            a["bins"] += b["bins"]
            a["n"] += b["n"]
            a["x"] += b["x"]
            a["v"] = Fraction(a["x"], a["n"])
            if i > 0:
                i -= 1
        else:
            i += 1
    cal = {}
    for blk in blocks:
        cal_micro = (blk["x"] * 1_000_000) // blk["n"]  # exact floor
        for b in blk["bins"]:
            cal[b] = cal_micro
    out = spark.createDataFrame(
        [
            (
                r["bin"],
                r["n"],
                round(r["x"] / r["n"], 6),
                cal[r["bin"]],
                round(cal[r["bin"]] / 1e6, 6),
            )
            for r in rows
        ],
        "bin bigint, n_docs bigint, raw_acc double, cal_micro bigint, calibrated double",
    )
    w_prev = Window.orderBy("bin")
    mass = out.agg(
        F.sum(F.col("n_docs") * F.col("cal_micro")).cast("decimal(38,0)").alias("cm"),
        F.sum(F.col("n_docs")).cast("bigint").alias("nn"),
    )
    x_total = sum(r["x"] for r in rows)
    checked = out.withColumn(
        "prev_cal", F.lag("cal_micro").over(w_prev)
    ).crossJoin(F.broadcast(mass))
    return (
        contract_filter(
            checked,
            (F.col("prev_cal").isNull() | (F.col("cal_micro") >= F.col("prev_cal")))
            & (
                F.abs(F.col("cm") - F.lit(x_total).cast("decimal(38,0)") * F.lit(1000000).cast("decimal(38,0)"))
                <= F.col("nn").cast("decimal(38,0)")
            ),
            F.concat(
                F.lit("isotonic calibration breach at bin "),
                F.col("bin").cast("string"),
                F.lit(": cal="),
                F.col("cal_micro").cast("string"),
                F.lit(" prev="),
                F.coalesce(F.col("prev_cal").cast("string"), F.lit("null")),
            ),
        )
        .select("bin", "n_docs", "raw_acc", "calibrated")
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# q367 — exact two-sample ENERGY distance between every pair of
# sources' length distributions: D^2 = 2 E|X-Y| - E|X-X'| - E|Y-Y'|,
# the modern nonparametric two-sample statistic (zero iff the
# distributions match) that complements the ECDF family (KS q191,
# CvM q349). All three pairwise-|difference| sums collapse to the
# value spine via prefix counts/sums — sum |x-y| = sum_v [ c_v *
# (v * cnt_below - sum_below) ] — so the statistic has an EXACT
# integer numerator (2*T_AB*n*m - T_AA*m^2 - T_BB*n^2) over n^2*m^2,
# floor-divided to micro before the one double division (q318
# lesson). DECIMAL(38,0) headroom: numerator ~ n^2*m^2*max|x| — fine
# through ~1e7 rows per side at this value domain; micro-scale the
# prefix sums beyond that.
# ---------------------------------------------------------------------------
@query(
    "q367_energy_distance",
    oracle=f"""
    WITH {_PAIR_VALUE_SPINE_CTES},
    cum AS (
        SELECT sa, sb, v, ca, cb,
               CAST(coalesce(sum(ca) OVER wb, 0) AS HUGEINT) AS cnt_a_below,
               CAST(coalesce(sum(CAST(ca AS HUGEINT) * v) OVER wb, 0) AS HUGEINT) AS sum_a_below,
               CAST(coalesce(sum(cb) OVER wb, 0) AS HUGEINT) AS cnt_b_below,
               CAST(coalesce(sum(CAST(cb AS HUGEINT) * v) OVER wb, 0) AS HUGEINT) AS sum_b_below,
               CAST(sum(ca) OVER wp AS HUGEINT) AS n,
               CAST(sum(cb) OVER wp AS HUGEINT) AS m
        FROM spine
        WINDOW wb AS (PARTITION BY sa, sb ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               wp AS (PARTITION BY sa, sb)
    ),
    sums AS (
        SELECT sa, sb, max(n) AS n, max(m) AS m,
               CAST(sum(CAST(ca AS HUGEINT) * (v * cnt_b_below - sum_b_below)
                        + CAST(cb AS HUGEINT) * (v * cnt_a_below - sum_a_below)) AS HUGEINT) AS t_ab,
               CAST(sum(2 * CAST(ca AS HUGEINT) * (v * cnt_a_below - sum_a_below)) AS HUGEINT) AS t_aa,
               CAST(sum(2 * CAST(cb AS HUGEINT) * (v * cnt_b_below - sum_b_below)) AS HUGEINT) AS t_bb
        FROM cum GROUP BY sa, sb
    )
    SELECT sa AS source_a, sb AS source_b,
           CAST(n AS BIGINT) AS n_a, CAST(m AS BIGINT) AS n_b,
           CAST((2 * t_ab * n * m - t_aa * m * m - t_bb * n * n) * 1000000
                - ((2 * t_ab * n * m - t_aa * m * m - t_bb * n * n) * 1000000)
                  % (n * n * m * m)
                AS HUGEINT) // (n * n * m * m) / 1000000.0 AS energy_d2
    FROM sums ORDER BY sa, sb
    """,
)
def q367_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _source_pair_value_spine(spark, sf_dir)
    w_below = (
        Window.partitionBy("sa", "sb")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_pair = Window.partitionBy("sa", "sb")
    z = F.lit(0).cast("decimal(38,0)")
    cum = spine.select(
        "sa",
        "sb",
        "v",
        "ca",
        "cb",
        F.coalesce(F.sum(_d38(F.col("ca"))).over(w_below), z).alias("cnt_a_below"),
        F.coalesce(F.sum(_d38(F.col("ca")) * _d38(F.col("v"))).over(w_below), z).alias(
            "sum_a_below"
        ),
        F.coalesce(F.sum(_d38(F.col("cb"))).over(w_below), z).alias("cnt_b_below"),
        F.coalesce(F.sum(_d38(F.col("cb")) * _d38(F.col("v"))).over(w_below), z).alias(
            "sum_b_below"
        ),
        F.sum("ca").over(w_pair).cast("bigint").alias("n"),
        F.sum("cb").over(w_pair).cast("bigint").alias("m"),
    )
    gap_b = _d38(F.col("v")) * F.col("cnt_b_below") - F.col("sum_b_below")
    gap_a = _d38(F.col("v")) * F.col("cnt_a_below") - F.col("sum_a_below")
    sums = cum.groupBy("sa", "sb").agg(
        F.max("n").alias("n"),
        F.max("m").alias("m"),
        F.sum(_d38(F.col("ca")) * gap_b + _d38(F.col("cb")) * gap_a)
        .cast("decimal(38,0)")
        .alias("t_ab"),
        F.sum(F.lit(2).cast("decimal(38,0)") * _d38(F.col("ca")) * gap_a)
        .cast("decimal(38,0)")
        .alias("t_aa"),
        F.sum(F.lit(2).cast("decimal(38,0)") * _d38(F.col("cb")) * gap_b)
        .cast("decimal(38,0)")
        .alias("t_bb"),
    )
    n38, m38 = _d38(F.col("n")), _d38(F.col("m"))
    num = (
        F.lit(2).cast("decimal(38,0)") * F.col("t_ab") * n38 * m38
        - F.col("t_aa") * m38 * m38
        - F.col("t_bb") * n38 * n38
    ).cast("decimal(38,0)")
    den = (n38 * n38 * m38 * m38).cast("decimal(38,0)")
    scaled = (num * F.lit(1000000).cast("decimal(38,0)")).cast("decimal(38,0)")
    d2_micro = ((scaled - F.pmod(scaled, den)) / den).cast("bigint")
    return sums.select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        F.col("n").alias("n_a"),
        F.col("m").alias("n_b"),
        (d2_micro.cast("double") / F.lit(1000000.0)).alias("energy_d2"),
    ).orderBy("source_a", "source_b")


# ---------------------------------------------------------------------------
# q368 — exact 1-D Wasserstein-1 (earth mover's) distance between
# every pair of sources' length distributions: W1 = integral of
# |CDF_A - CDF_B|, which on the value spine is the EXACT integer sum
# of (v_next - v) * |cfa*m - cfb*n| over n*m — closing the
# distribution-shift quartet (KS max-gap q191, CvM squared-gap q349,
# energy q367, W1 transport cost). One row-grain groupBy, pair x
# value spine, floor-to-micro before the single double division.
# ---------------------------------------------------------------------------
@query(
    "q368_wasserstein_1d",
    oracle=f"""
    WITH {_PAIR_VALUE_SPINE_CTES},
    cum AS (
        SELECT sa, sb, v, ca, cb,
               CAST(sum(ca) OVER w AS HUGEINT) AS cfa,
               CAST(sum(cb) OVER w AS HUGEINT) AS cfb,
               lead(v) OVER w2 AS v_next,
               CAST(sum(ca) OVER wp AS HUGEINT) AS n,
               CAST(sum(cb) OVER wp AS HUGEINT) AS m
        FROM spine
        WINDOW w AS (PARTITION BY sa, sb ORDER BY v),
               w2 AS (PARTITION BY sa, sb ORDER BY v),
               wp AS (PARTITION BY sa, sb)
    ),
    sums AS (
        SELECT sa, sb, max(n) AS n, max(m) AS m,
               CAST(sum(CASE WHEN v_next IS NOT NULL
                    THEN CAST(v_next - v AS HUGEINT) * abs(cfa * m - cfb * n)
                    ELSE 0 END) AS HUGEINT) AS t
        FROM cum GROUP BY sa, sb
    )
    SELECT sa AS source_a, sb AS source_b,
           CAST(n AS BIGINT) AS n_a, CAST(m AS BIGINT) AS n_b,
           CAST(t * 1000000 - (t * 1000000) % (n * m) AS HUGEINT) // (n * m)
               / 1000000.0 AS w1
    FROM sums ORDER BY sa, sb
    """,
)
def q368_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = _source_pair_value_spine(spark, sf_dir)
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
    seg = F.when(
        F.col("v_next").isNotNull(),
        _d38(F.col("v_next") - F.col("v"))
        * F.abs(F.col("cfa") * _d38(F.col("m")) - F.col("cfb") * _d38(F.col("n"))),
    ).otherwise(F.lit(0).cast("decimal(38,0)"))
    sums = cum.groupBy("sa", "sb").agg(
        F.max("n").alias("n"),
        F.max("m").alias("m"),
        F.sum(seg).cast("decimal(38,0)").alias("t"),
    )
    den = (_d38(F.col("n")) * _d38(F.col("m"))).cast("decimal(38,0)")
    scaled = (F.col("t") * F.lit(1000000).cast("decimal(38,0)")).cast("decimal(38,0)")
    w1_micro = ((scaled - F.pmod(scaled, den)) / den).cast("bigint")
    return sums.select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        F.col("n").alias("n_a"),
        F.col("m").alias("n_b"),
        (w1_micro.cast("double") / F.lit(1000000.0)).alias("w1"),
    ).orderBy("source_a", "source_b")


# ---------------------------------------------------------------------------
# q369 — Hellinger distance of each source's unigram distribution
# from the corpus distribution over the top-100 corpus terms (add-1
# smoothed, q330's setup so KL/JS/Hellinger are directly comparable):
# BC = sum sqrt(p*q) with each per-term sqrt micro-rounded from an
# exact integer ratio argument (the q217/q330 transcendental
# discipline — round(1e6 * sqrt((ca*expr)/(na*expr)))) and summed
# exactly; H = sqrt(1 - BC) is the single final expression, 6dp.
# Completes the f-divergence family: KL (q330), JS (q237), Hellinger.
# ---------------------------------------------------------------------------
@query(
    "q369_hellinger_distance",
    oracle=f"""
    WITH toks AS (
        SELECT source, unnest({_TOKS_SQL}) AS term
        FROM documents
    ),
    tc AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2),
    top_terms AS (
        SELECT term, CAST(sum(c) AS BIGINT) AS cc FROM tc
        GROUP BY term ORDER BY cc DESC, term LIMIT 100
    ),
    corpus_tot AS (SELECT CAST(sum(cc) AS BIGINT) AS nq FROM top_terms),
    src_tot AS (
        SELECT source, CAST(sum(c) AS BIGINT) AS np
        FROM tc JOIN top_terms USING (term) GROUP BY source
    ),
    cells AS (
        SELECT s.source, t.term, t.cc, coalesce(c.c, 0) AS ca, st.np, ct.nq
        FROM (SELECT DISTINCT source FROM tc) s
        JOIN top_terms t ON TRUE
        LEFT JOIN tc c ON c.source = s.source AND c.term = t.term
        JOIN src_tot st ON st.source = s.source
        CROSS JOIN corpus_tot ct
    ),
    bc AS (
        SELECT source, max(np) AS n_tokens,
               CAST(sum(CAST(round(1000000.0 * sqrt(
                   (CAST(ca + 1 AS DOUBLE) / CAST(np + 100 AS DOUBLE))
                   * (CAST(cc + 1 AS DOUBLE) / CAST(nq + 100 AS DOUBLE))))
                   AS BIGINT)) AS BIGINT) AS bc_micro
        FROM cells GROUP BY source
    )
    SELECT source, n_tokens,
           round(CAST(bc_micro AS DOUBLE) / 1000000.0, 6) AS bhattacharyya,
           round(sqrt(greatest(1.0 - CAST(bc_micro AS DOUBLE) / 1000000.0, 0.0)), 6)
               AS hellinger
    FROM bc ORDER BY source
    """,
)
def q369_hellinger_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select("source", F.explode(tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    top_terms = (
        tc.groupBy("term")
        .agg(F.sum("c").cast("bigint").alias("cc"))
        .orderBy(F.col("cc").desc(), F.col("term"))
        .limit(100)
    )
    corpus_tot = top_terms.agg(F.sum("cc").cast("bigint").alias("nq"))
    with_top = tc.join(F.broadcast(top_terms.select("term")), "term")
    src_tot = with_top.groupBy("source").agg(F.sum("c").cast("bigint").alias("np"))
    cells = (
        tc.select("source")
        .distinct()
        .crossJoin(F.broadcast(top_terms))
        # Bounded-frame broadcast only: with_top is (source x top-100
        # term) counts, <= 100*|sources| rows. Broadcasting the full
        # vocab-grain `tc` here would OOM the driver at 100 TB scale
        # (VERDICT r07 item 2) — the spine only needs counts for the
        # top terms, which with_top already holds.
        .join(
            F.broadcast(with_top.withColumnRenamed("c", "ca")),
            ["source", "term"],
            "left",
        )
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(corpus_tot))
        .select(
            "source",
            F.coalesce("ca", F.lit(0).cast("bigint")).alias("ca"),
            "cc",
            "np",
            "nq",
        )
    )
    term_micro = F.round(
        F.lit(1000000.0)
        * F.sqrt(
            ((F.col("ca") + 1).cast("double") / (F.col("np") + 100).cast("double"))
            * ((F.col("cc") + 1).cast("double") / (F.col("nq") + 100).cast("double"))
        )
    ).cast("bigint")
    bc = cells.groupBy("source").agg(
        F.max("np").alias("n_tokens"),
        F.sum(term_micro).cast("bigint").alias("bc_micro"),
    )
    bcd = F.col("bc_micro").cast("double") / F.lit(1000000.0)
    return bc.select(
        "source",
        "n_tokens",
        F.round(bcd, 6).alias("bhattacharyya"),
        F.round(F.sqrt(F.greatest(F.lit(1.0) - bcd, F.lit(0.0))), 6).alias(
            "hellinger"
        ),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# q370 — bucketed co-located join: write orders and customer as
# Hive-bucketed tables (8 buckets on the join key, sorted in-bucket),
# then join WITHOUT a shuffle — the bucketing story the 100 TB design
# leans on: a fact table bucketed at write time pays its exchange
# once, and every subsequent key join rides the stored layout. The
# join itself is exchange-free (plan-audited in
# tests/test_plans.py); the only shuffle left is the final
# nation-grain aggregate. Results are layout-independent, so the
# DuckDB oracle is the plain join — correctness certifies the
# bucketed path end-to-end.
# ---------------------------------------------------------------------------
@query(
    "q370_bucketed_join",
    oracle="""
    SELECT c.c_nationkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1 ORDER BY 1
    """,
)
def q370_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    # LOCATION is explicit: without it CREATE DATABASE mkdirs under
    # the default spark-warehouse (CWD) — exactly the read-only-CWD
    # dependency the note below exists to avoid (review finding).
    spark.sql(
        "CREATE DATABASE IF NOT EXISTS bucketed_demo "
        "LOCATION '/tmp/pipeline_usnvc_spark_bucketed_demo_db'"
    )
    # External tables under an EXPLICIT /tmp path: the harness session
    # may run with an arbitrary (possibly read-only) CWD, so never
    # rely on the default spark-warehouse location. A fresh session's
    # in-memory catalog also doesn't know tables a prior session
    # wrote, so DROP TABLE alone leaves the physical location behind
    # (LOCATION_ALREADY_EXISTS) — clear the directory too.
    import shutil

    # Session-scoped location + table names (ADVICE r07): a fixed
    # /tmp path and shared table names race when two sessions (or
    # parallel pytest workers) run this query concurrently — each
    # rmtree/overwrite can corrupt the other's tables. applicationId
    # is unique per SparkSession, so concurrent runs write disjoint
    # locations and catalog entries.
    app = spark.sparkContext.applicationId.replace("-", "_")
    base = f"/tmp/pipeline_usnvc_spark_bucketed_{app}"
    # The returned DataFrame reads the bucketed tables LAZILY, so they
    # must outlive this function — reap the per-run directory at
    # process exit instead (review finding: each run leaked two table
    # copies under /tmp plus two catalog entries, unbounded across
    # bench/replay runs; the catalog itself is in-memory per session).
    import atexit

    atexit.register(shutil.rmtree, base, ignore_errors=True)
    for short, df, key in (
        ("orders_bkt", o, "o_custkey"),
        ("customer_bkt", c, "c_custkey"),
    ):
        name = f"bucketed_demo.{short}_{app}"
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        loc = f"{base}/{short}"
        shutil.rmtree(loc, ignore_errors=True)
        (
            df.repartition(8, key)
            .write.bucketBy(8, key)
            .sortBy(key)
            .option("path", loc)
            .mode("overwrite")
            .saveAsTable(name)
        )
    ob = spark.table(f"bucketed_demo.orders_bkt_{app}")
    cb = spark.table(f"bucketed_demo.customer_bkt_{app}")
    # MERGE hint: without it the small side broadcasts and the
    # bucketed layout goes unused — the point here is the
    # exchange-free sort-merge join over the stored bucketing
    joined = ob.hint("merge").join(cb.hint("merge"), ob["o_custkey"] == cb["c_custkey"])
    return (
        joined.groupBy("c_nationkey")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
        )
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# q371 — Markov next-event prediction accuracy: for each from-type,
# predict the argmax next-type from the transition counts (tie-free:
# count desc, then type asc) and measure in-sample top-1 accuracy —
# the eval that tells you whether q121's transition matrix carries
# any signal beyond the marginal. One user-keyed lead window at
# event grain (the q332 spine), then everything is exact integers on
# the <=25-cell transition lattice.
# ---------------------------------------------------------------------------
@query(
    "q371_markov_accuracy",
    oracle="""
    WITH stepped AS (
        SELECT event_type AS a,
               lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS b
        FROM events
    ),
    cnt AS (
        SELECT a, b, CAST(count(*) AS BIGINT) AS n
        FROM stepped WHERE b IS NOT NULL GROUP BY 1, 2
    ),
    ranked AS (
        SELECT a, b, n,
               row_number() OVER (PARTITION BY a ORDER BY n DESC, b ASC) AS rk,
               CAST(sum(n) OVER (PARTITION BY a) AS BIGINT) AS na
        FROM cnt
    )
    SELECT a AS from_type, b AS predicted_next,
           na AS n_transitions, n AS n_correct,
           round(CAST(n AS DOUBLE) / CAST(na AS DOUBLE), 6) AS top1_accuracy
    FROM ranked WHERE rk = 1 ORDER BY from_type
    """,
)
def q371_markov_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = ev.select(
        F.col("event_type").alias("a"), F.lead("event_type").over(w).alias("b")
    ).filter(F.col("b").isNotNull())
    cnt = stepped.groupBy("a", "b").agg(F.count("*").cast("bigint").alias("n"))
    w_rank = Window.partitionBy("a").orderBy(F.col("n").desc(), F.col("b").asc())
    w_a = Window.partitionBy("a")
    ranked = cnt.select(
        "a",
        "b",
        "n",
        F.row_number().over(w_rank).alias("rk"),
        F.sum("n").over(w_a).cast("bigint").alias("na"),
    )
    return (
        ranked.filter(F.col("rk") == 1)
        .select(
            F.col("a").alias("from_type"),
            F.col("b").alias("predicted_next"),
            F.col("na").alias("n_transitions"),
            F.col("n").alias("n_correct"),
            F.round(F.col("n").cast("double") / F.col("na").cast("double"), 6).alias(
                "top1_accuracy"
            ),
        )
        .orderBy("from_type")
    )


# ---------------------------------------------------------------------------
# q372 — HLL set algebra (rows-only: sketch estimates): audience
# intersection/overlap between every pair of event types via
# inclusion-exclusion over mergeable sketches — |A n B| ~ est(A) +
# est(B) - est(A u B), where est(A u B) = estimate(hll_union(skA,
# skB)) needs NO re-scan (the whole point of mergeable sketches at
# 100 TB: per-segment sketches are KBs and compose). The executed
# contract compares each estimate against the exact intersection
# (computable at test scale) with the compounded three-estimate
# error budget 3 * rsd * (|A| + |B| + |A u B|), plus Jaccard from
# the same numbers.
# ---------------------------------------------------------------------------
@query("q372_hll_intersection")
def q372_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.contracts import contract_filter

    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").cast("bigint").alias("n_exact"),
    )
    a = per_type.select(
        F.col("event_type").alias("type_a"),
        F.col("sk").alias("sk_a"),
        F.col("n_exact").alias("n_a"),
    )
    b = per_type.select(
        F.col("event_type").alias("type_b"),
        F.col("sk").alias("sk_b"),
        F.col("n_exact").alias("n_b"),
    )
    pairs = a.join(b, F.col("type_a") < F.col("type_b")).select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        F.hll_sketch_estimate("sk_a").alias("est_a"),
        F.hll_sketch_estimate("sk_b").alias("est_b"),
        F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b")).alias("est_union"),
    )
    # exact intersection on the (type, user) grain for the contract
    tu = ev.select("event_type", "user_id").distinct()
    inter = (
        tu.alias("x")
        .join(
            tu.alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count("*").cast("bigint").alias("exact_inter"))
    )
    joined = pairs.join(inter, ["type_a", "type_b"], "left").select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        "est_union",
        F.coalesce("exact_inter", F.lit(0).cast("bigint")).alias("exact_inter"),
        (F.col("est_a") + F.col("est_b") - F.col("est_union"))
        .cast("bigint")
        .alias("approx_inter"),
        F.round(
            (F.col("est_a") + F.col("est_b") - F.col("est_union"))
            / F.greatest(F.col("est_union"), F.lit(1.0)),
            6,
        ).alias("approx_jaccard"),
    )
    # lgConfigK=12 -> rsd ~ 1.6%; inclusion-exclusion compounds three
    # estimates, so the budget scales with |A| + |B| + |A u B| — the
    # union term uses the estimated union itself (ADVICE r07: the old
    # (n_a + n_b) stand-in only upper-bounds the union, loosening the
    # contract beyond what the comment promised).
    budget = F.lit(3 * 0.016) * (
        F.col("n_a").cast("double")
        + F.col("n_b").cast("double")
        + F.col("est_union")
    )
    return contract_filter(
        joined,
        F.abs(F.col("approx_inter") - F.col("exact_inter")).cast("double")
        <= F.greatest(budget, F.lit(16.0)),
        F.concat(
            F.lit("HLL intersection estimate outside budget for ("),
            F.col("type_a"),
            F.lit(", "),
            F.col("type_b"),
            F.lit("): approx="),
            F.col("approx_inter").cast("string"),
            F.lit(" exact="),
            F.col("exact_inter").cast("string"),
        ),
    ).drop("est_union").orderBy("type_a", "type_b")


# ---------------------------------------------------------------------------
# q373 — whitening transform (rows-only: the Cholesky solve is not
# SQL-expressible): decorrelate the embeddings with W = L^-1 where
# C + eps*I = L L^T — the standard preprocessing before semantic
# dedup / retrieval when raw dimensions are correlated (q364's
# covariance made actionable). Shape: the covariance cells come from
# the exact Arrow kernel (one pass, bounded collect), the 64x64
# Cholesky happens driver-side, the transform applies distributed
# via mapInPandas with the broadcast W, and the VERIFICATION is
# distributed too: the whitened covariance is recomputed with the
# same exact kernel and an executed in-plan contract pins every cell
# to the identity within 0.02 (in-sample whitening is exact up to
# the eps ridge and quantization).
# ---------------------------------------------------------------------------
@query("q373_whitening_transform")
def q373_whitening_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from pipeline_usnvc_spark.operators.contracts import contract_filter

    emb = load_table(spark, sf_dir, "embeddings").select("embedding")

    def cov_cells(df):
        # the shared kernel in dim-sums mode (operators/similarity.py)
        from pipeline_usnvc_spark.operators.similarity import gram_matrix_quantized

        return gram_matrix_quantized(df, with_dim_sums=True).withColumnRenamed(
            "sxy", "s"
        )

    def to_cov(cells_rows):
        gram: dict = {}
        sums: dict = {}
        n = 0
        for r in cells_rows:
            i, j, s = r["dim_i"], r["dim_j"], int(r["s"])
            if i == -3:
                n = s
            elif j == -1:
                sums[i] = s
            else:
                gram[(i, j)] = s
        d = max(i for i, _ in gram)
        C = np.zeros((d, d))
        mu = np.array([sums[i] / (n * 1e7) for i in range(1, d + 1)])
        for (i, j), g in gram.items():
            c = (n * g - sums[i] * sums[j]) / (n * n * 1e14)
            C[i - 1, j - 1] = C[j - 1, i - 1] = c
        return C, mu, n

    C, mu, n = to_cov(cov_cells(emb).collect())  # bounded grain
    d = C.shape[0]
    L = np.linalg.cholesky(C + 1e-6 * np.eye(d))
    W = np.linalg.inv(L)

    out_schema = "embedding array<double>"
    W_list, mu_list = W.tolist(), mu.tolist()

    def whiten(it):
        import numpy as np
        import pandas as pd

        Wm = np.array(W_list)
        mv = np.array(mu_list)
        for pdf in it:
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            Z = (X - mv) @ Wm.T
            yield pd.DataFrame({"embedding": list(Z)})

    whitened = emb.mapInPandas(whiten, schema=out_schema)
    zcells = cov_cells(whitened)
    gram = zcells.filter((F.col("dim_i") > 0) & (F.col("dim_j") > 0)).select(
        "dim_i", "dim_j", F.col("s").alias("qsum")
    )
    margins = zcells.filter(F.col("dim_j") == -1).select(
        F.col("dim_i").alias("dim"), F.col("s").alias("msum")
    )
    nrow = zcells.filter(F.col("dim_i") == -3).select(F.col("s").alias("n"))
    j = (
        gram.join(
            F.broadcast(
                margins.select(F.col("dim").alias("dim_i"), F.col("msum").alias("si"))
            ),
            "dim_i",
        )
        .join(
            F.broadcast(
                margins.select(F.col("dim").alias("dim_j"), F.col("msum").alias("sj"))
            ),
            "dim_j",
        )
        .crossJoin(F.broadcast(nrow))
    )
    cov_w = (
        (F.col("n") * F.col("qsum") - F.col("si") * F.col("sj")).cast("double")
        / (F.col("n").cast("double") * F.col("n").cast("double") * F.lit(1e14))
    )
    target = F.when(F.col("dim_i") == F.col("dim_j"), F.lit(1.0)).otherwise(F.lit(0.0))
    out = j.select(
        F.col("dim_i").cast("bigint").alias("dim_i"),
        F.col("dim_j").cast("bigint").alias("dim_j"),
        F.round(cov_w, 6).alias("cov_whitened"),
        target.alias("_target"),
    )
    return (
        contract_filter(
            out,
            F.abs(F.col("cov_whitened") - F.col("_target")) <= 0.02,
            F.concat(
                F.lit("whitening failed to decorrelate cell ("),
                F.col("dim_i").cast("string"),
                F.lit(", "),
                F.col("dim_j").cast("string"),
                F.lit("): cov="),
                F.col("cov_whitened").cast("string"),
            ),
        )
        .drop("_target")
        .orderBy("dim_i", "dim_j")
    )


# ---------------------------------------------------------------------------
# q374 — Markov absorption probability (rows-only: the fundamental-
# matrix solve is not SQL-expressible): for each transient state, the
# probability a user's event chain reaches 'purchase' before the
# sequence ends — the absorbing-chain analysis that completes the
# Markov family (q121 matrix, q332 entropy, q371 accuracy). Chains:
# per-user sequences with an explicit END state at termination;
# 'purchase' and END absorb. Counts aggregate distributed on the
# bounded state lattice; the <=25-variable solve (I - Q)p = r runs
# driver-side; and the result is verified DISTRIBUTED by its own
# defining fixed-point equation — an executed in-plan contract checks
# n_s*p_s = sum_b n_sb*p_b (p=1 at purchase, 0 at END) within 1e-6
# per outgoing edge, which no wrong vector can satisfy.
# ---------------------------------------------------------------------------
@query("q374_markov_absorption")
def q374_markov_absorption(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from pipeline_usnvc_spark.operators.contracts import contract_filter

    TARGET = "purchase"
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = ev.select(
        F.col("event_type").alias("a"),
        F.coalesce(F.lead("event_type").over(w), F.lit("__END__")).alias("b"),
    ).filter(F.col("a") != TARGET)  # target absorbs: no transitions out
    cnt = stepped.groupBy("a", "b").agg(F.count("*").cast("bigint").alias("n"))
    rows = cnt.collect()  # bounded lattice (<= |types|^2 + |types|)
    states = sorted({r["a"] for r in rows})
    idx = {s: i for i, s in enumerate(states)}
    k = len(states)
    n_out = [0] * k
    Q = np.zeros((k, k))
    r = np.zeros(k)
    for row in rows:
        i = idx[row["a"]]
        n_out[i] += row["n"]
    for row in rows:
        i, b, n = idx[row["a"]], row["b"], row["n"]
        if b == TARGET:
            r[i] += n / n_out[i]
        elif b in idx:
            Q[i, idx[b]] += n / n_out[i]
        # __END__ and unknown absorbers contribute 0
    p = np.linalg.solve(np.eye(k) - Q, r)
    p_map = {s: float(p[idx[s]]) for s in states}
    p_map[TARGET] = 1.0
    p_map["__END__"] = 0.0
    p_df = F.broadcast(
        spark.createDataFrame(
            [(s, v) for s, v in p_map.items()], "state string, p double"
        )
    )
    # distributed fixed-point audit on the edge lattice
    edges = (
        cnt.join(p_df.select(F.col("state").alias("a"), F.col("p").alias("p_a")), "a")
        .join(p_df.select(F.col("state").alias("b"), F.col("p").alias("p_b")), "b")
    )
    audit = edges.groupBy("a").agg(
        F.sum("n").cast("bigint").alias("n_s"),
        F.max("p_a").alias("p_s"),
        F.sum(F.col("n").cast("double") * F.col("p_b")).alias("flow"),
    )
    checked = contract_filter(
        audit,
        F.abs(F.col("n_s").cast("double") * F.col("p_s") - F.col("flow"))
        <= F.lit(1e-6) * F.col("n_s").cast("double"),
        F.concat(
            F.lit("absorption fixed-point violated at state "),
            F.col("a"),
            F.lit(": n*p="),
            (F.col("n_s").cast("double") * F.col("p_s")).cast("string"),
            F.lit(" flow="),
            F.col("flow").cast("string"),
        ),
    )
    return checked.select(
        F.col("a").alias("state"),
        F.col("n_s").alias("n_transitions_out"),
        F.round(F.col("p_s"), 6).alias("p_absorb_purchase"),
    ).orderBy("state")


# ---------------------------------------------------------------------------
# q375 — KS drift DECISION: q191 reports the two-sample KS statistic;
# this turns it into the accept/reject call a monitor actually fires
# on, via the Kolmogorov asymptotic p-value Q(lambda) = 2 * sum_k
# (-1)^(k-1) exp(-2 k^2 lambda^2) with Stephens' finite-sample lambda.
# Parity shape: the D statistic is a max over identically-computed
# exact-count ratios; each of the 100 series terms is micro-rounded
# to nano units (the q217 transcendental discipline) and summed
# EXACTLY, so both engines truncate the series identically; the
# decision compares the 6dp-rounded p to 0.05.
# ---------------------------------------------------------------------------
@query(
    "q375_ks_decision",
    oracle="""
    WITH per_value AS (
        SELECT event_type, value,
               count(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 END) AS c1,
               count(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 END) AS c2
        FROM events GROUP BY event_type, value
    ),
    stepped AS (
        SELECT event_type,
               sum(c1) OVER w AS cum1, sum(c2) OVER w AS cum2,
               sum(c1) OVER wp AS n1, sum(c2) OVER wp AS n2
        FROM per_value
        WINDOW w AS (PARTITION BY event_type ORDER BY value
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wp AS (PARTITION BY event_type)
    ),
    d AS (
        SELECT event_type,
               max(CASE WHEN n1 > 0 AND n2 > 0
                        THEN abs(CAST(cum1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                                 - CAST(cum2 AS DOUBLE) / CAST(n2 AS DOUBLE)) END) AS ks_d,
               CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2
        FROM stepped GROUP BY event_type
    ),
    lam AS (
        SELECT event_type, ks_d, n1, n2,
               (sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                     / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
                + 0.12
                + 0.11 / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                              / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))))
               * ks_d AS lambda_
        FROM d
    ),
    series AS (
        SELECT l.event_type,
               CAST(sum(CAST(round(1000000000.0
                   * CASE WHEN k % 2 = 1 THEN 1.0 ELSE -1.0 END
                   * exp(-2.0 * CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
                         * l.lambda_ * l.lambda_)) AS BIGINT)) AS BIGINT) AS s_nano
        FROM lam l CROSS JOIN (SELECT unnest(range(1, 101)) AS k)
        GROUP BY l.event_type
    )
    SELECT l.event_type, round(l.ks_d, 6) AS ks_d, l.n1 AS n_early, l.n2 AS n_late,
           CASE WHEN l.n1 > 0 AND l.n2 > 0 THEN
               round(least(greatest(2.0 * CAST(s.s_nano AS DOUBLE) / 1000000000.0, 0.0), 1.0), 6)
           END AS p_value,
           CASE WHEN l.n1 > 0 AND l.n2 > 0 THEN
               round(least(greatest(2.0 * CAST(s.s_nano AS DOUBLE) / 1000000000.0, 0.0), 1.0), 6)
               < 0.05
           END AS drift_detected
    FROM lam l JOIN series s ON s.event_type = l.event_type
    ORDER BY l.event_type
    """,
)
def q375_ks_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    split = F.lit("2024-01-16").cast("timestamp")
    per_value = ev.groupBy("event_type", "value").agg(
        F.count(F.when(F.col("ts") < split, 1)).alias("c1"),
        F.count(F.when(F.col("ts") >= split, 1)).alias("c2"),
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    stepped = per_value.select(
        "event_type",
        F.sum("c1").over(w_cum).alias("cum1"),
        F.sum("c2").over(w_cum).alias("cum2"),
        F.sum("c1").over(w_all).alias("n1"),
        F.sum("c2").over(w_all).alias("n2"),
    )
    # Positivity guard (the q341 `valid` pattern): with every event of
    # a type on one side of the split, Spark's 0/0 is NaN while
    # DuckDB's is NULL — guard the division so both engines emit the
    # same NULL row for such a type.
    d = stepped.groupBy("event_type").agg(
        F.max(
            F.when(
                (F.col("n1") > 0) & (F.col("n2") > 0),
                F.abs(
                    F.col("cum1").cast("double") / F.col("n1").cast("double")
                    - F.col("cum2").cast("double") / F.col("n2").cast("double")
                ),
            )
        ).alias("ks_d"),
        F.max("n1").cast("bigint").alias("n1"),
        F.max("n2").cast("bigint").alias("n2"),
    )
    ne = F.sqrt(
        F.col("n1").cast("double")
        * F.col("n2").cast("double")
        / (F.col("n1").cast("double") + F.col("n2").cast("double"))
    )
    lam = d.withColumn(
        "lambda_", (ne + F.lit(0.12) + F.lit(0.11) / ne) * F.col("ks_d")
    )
    term = lambda k: F.round(
        F.lit(1000000000.0)
        * F.when(F.pmod(k, F.lit(2)) == 1, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.exp(
            F.lit(-2.0)
            * k.cast("double")
            * k.cast("double")
            * F.col("lambda_")
            * F.col("lambda_")
        )
    ).cast("decimal(38,0)")
    s_nano = F.aggregate(
        F.sequence(F.lit(1), F.lit(100)),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, k: acc + term(k),
    ).cast("bigint")
    valid = (F.col("n1") > 0) & (F.col("n2") > 0)
    p = F.when(
        valid,
        F.round(
            F.least(
                F.greatest(
                    F.lit(2.0) * s_nano.cast("double") / F.lit(1000000000.0),
                    F.lit(0.0),
                ),
                F.lit(1.0),
            ),
            6,
        ),
    )
    return (
        lam.withColumn("s_nano", s_nano)
        .select(
            "event_type",
            F.round("ks_d", 6).alias("ks_d"),
            F.col("n1").alias("n_early"),
            F.col("n2").alias("n_late"),
            p.alias("p_value"),
            F.when(valid, p < F.lit(0.05)).alias("drift_detected"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q376 — negative-binomial overdispersion fit (method of moments) on
# per-type daily event counts: q257's Fano factor says counts are
# overdispersed; this fits the NB model a capacity planner actually
# uses. Every statistic is an EXACT integer ratio: with S = sum x,
# SS = sum x^2, D days, V = D*SS - S^2, the MoM estimates reduce to
# mean = S/D, var = V/D^2, r = S^2/(V - S*D), p = S*D/V — all
# floor-divided to micro before their single double divisions (q318),
# and the overdispersion flag is the exact integer comparison
# V > S*D. Day-spine grain per type.
# ---------------------------------------------------------------------------
@query(
    "q376_negbin_fit",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(date_diff('day', DATE '1992-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    agg AS (
        SELECT event_type,
               CAST(count(*) AS HUGEINT) AS dd,
               CAST(sum(x) AS HUGEINT) AS s,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS ss
        FROM daily GROUP BY event_type
    ),
    v AS (SELECT event_type, dd, s, ss, dd * ss - s * s AS vnum FROM agg)
    SELECT event_type, CAST(dd AS BIGINT) AS n_days,
           CAST((s * 1000000 - (s * 1000000) % dd) // dd AS BIGINT) / 1000000.0 AS mean_daily,
           CAST((vnum * 1000000 - (vnum * 1000000) % (dd * dd)) // (dd * dd) AS BIGINT)
               / 1000000.0 AS var_daily,
           CASE WHEN vnum > s * dd
                THEN CAST((s * s * 1000000 - (s * s * 1000000) % (vnum - s * dd))
                          // (vnum - s * dd) AS BIGINT) / 1000000.0 END AS nb_r,
           CASE WHEN vnum > 0
                THEN CAST((s * dd * 1000000 - (s * dd * 1000000) % vnum) // vnum AS BIGINT)
                     / 1000000.0 END AS nb_p,
           vnum > s * dd AS overdispersed
    FROM v ORDER BY event_type
    """,
)
def q376_negbin_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1992-01-01")).cast("bigint").alias("d"),
    ).agg(F.count("*").cast("bigint").alias("x"))
    agg = daily.groupBy("event_type").agg(
        F.count("*").cast("decimal(38,0)").alias("dd"),
        F.sum("x").cast("decimal(38,0)").alias("s"),
        F.sum(_d38(F.col("x")) * _d38(F.col("x"))).cast("decimal(38,0)").alias("ss"),
    )
    v = agg.withColumn("vnum", (F.col("dd") * F.col("ss") - F.col("s") * F.col("s")).cast("decimal(38,0)"))

    def fdiv_micro(num, den):
        scaled = (num * F.lit(1000000).cast("decimal(38,0)")).cast("decimal(38,0)")
        return ((scaled - F.pmod(scaled, den)) / den).cast("bigint").cast(
            "double"
        ) / F.lit(1000000.0)

    over = F.col("vnum") > F.col("s") * F.col("dd")
    return v.select(
        "event_type",
        F.col("dd").cast("bigint").alias("n_days"),
        fdiv_micro(F.col("s"), F.col("dd")).alias("mean_daily"),
        fdiv_micro(F.col("vnum"), (F.col("dd") * F.col("dd")).cast("decimal(38,0)")).alias(
            "var_daily"
        ),
        F.when(
            over,
            fdiv_micro(
                (F.col("s") * F.col("s")).cast("decimal(38,0)"),
                (F.col("vnum") - F.col("s") * F.col("dd")).cast("decimal(38,0)"),
            ),
        ).alias("nb_r"),
        F.when(
            F.col("vnum") > 0,
            fdiv_micro(
                (F.col("s") * F.col("dd")).cast("decimal(38,0)"), F.col("vnum")
            ),
        ).alias("nb_p"),
        over.alias("overdispersed"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# q377 — Nelson-Aalen cumulative hazard of time-to-repeat-purchase
# (right-censored, q352's spine): H(t) = sum_{t_i<=t} d_i/n_i — the
# estimator that stays stable where Kaplan-Meier's product degenerates
# and whose exp(-H) is the standard KM cross-check. Per-event-time
# hazard increments are micro-rounded from exact integer ratios and
# summed exactly over the bounded duration spine; exp(-H) rides along
# for the Breslow comparison.
# ---------------------------------------------------------------------------
@query(
    "q377_nelson_aalen",
    oracle=f"""
    WITH {_DURATION_RISK_CTES},
    haz AS (
        SELECT t, n_ev, n_risk,
               CAST((n_ev * 1000000 - (n_ev * 1000000) % n_risk) // n_risk AS BIGINT)
                   AS h_micro
        FROM risk WHERE n_ev > 0
    )
    SELECT t AS duration_days, n_risk AS n_at_risk, n_ev AS n_events,
           round(CAST(sum(h_micro) OVER (ORDER BY t) AS DOUBLE) / 1000000.0, 6)
               AS cum_hazard,
           round(exp(-CAST(sum(h_micro) OVER (ORDER BY t) AS DOUBLE) / 1000000.0), 6)
               AS breslow_survival
    FROM haz ORDER BY t
    """,
)
def q377_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    risk = _duration_risk_spine(spark, sf_dir).filter(F.col("n_ev") > 0)
    scaled = _d38(F.col("n_ev")) * F.lit(1000000).cast("decimal(38,0)")
    den = _d38(F.col("n_risk"))
    h_micro = ((scaled - F.pmod(scaled, den)) / den).cast("bigint")
    haz = risk.select("t", "n_ev", "n_risk", h_micro.alias("h_micro"))
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    cum = F.sum("h_micro").over(w_cum).cast("bigint")
    return haz.select(
        F.col("t").alias("duration_days"),
        F.col("n_risk").alias("n_at_risk"),
        F.col("n_ev").alias("n_events"),
        F.round(cum.cast("double") / F.lit(1000000.0), 6).alias("cum_hazard"),
        F.round(F.exp(-cum.cast("double") / F.lit(1000000.0)), 6).alias(
            "breslow_survival"
        ),
    ).orderBy("duration_days")
