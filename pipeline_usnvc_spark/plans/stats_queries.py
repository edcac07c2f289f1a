"""Statistical-test and inference query family (round 6).

The experimentation / data-science surface a warehouse user expects on
top of the relational core: rank correlations, nonparametric tests,
ANOVA, effect sizes, inequality indices, graph assortativity, and a
deterministic bootstrap. Reference scope note: the reference pipeline
(usnvc/usnvc.py) has no statistics at all — this family belongs to the
mandated LLM-pipeline/analytics extension surface.

Every query is oracle-exact under the suite discipline
(memory: oracle-parity rules):

- sufficient statistics are EXACT integer/decimal sums (value counts,
  rank·count products in DECIMAL(38,0) / HUGEINT) — no double is ever
  summed across rows;
- per-row transcendentals (ln) round to integer micro-units before
  summation (round(ln·1e6), the q217 precedent);
- tied ranks stay integral by carrying 2× the mid-rank
  (2·rank_min + ties − 1 ∈ ℤ), with the 2× factors cancelling in the
  final correlation ratio;
- final float arithmetic is the IDENTICAL expression tree on both
  engines, rounded to 6dp, with zero-variance guards that emit NULL on
  both sides.

Scale shape: rank statistics are computed at the VALUE grain, not the
row grain — one row-grain groupBy to (group, value, n) counts, then
windows run over the bounded distinct-value spine (≤ dozens of rows),
so no data-grain window ever exists (the round-5 sweep's rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pipeline_usnvc_spark.plans.registry import _d38, query
from pipeline_usnvc_spark.sources.tables import load_table


def _idiv(x, y):
    """Exact integer floor division (operators/rank.py's ADVICE-r05
    idiom, promoted module-level — the review found six unlabeled
    copies): subtract the remainder FIRST so the division operates on
    an exact multiple of y; a bare floor(x / y) is off-by-one whenever
    x/y lands on an unrepresentable double just below an integer.
    Exact while the multiple stays below 2^53 (DECIMAL operands:
    exact unconditionally). Returns the uncast quotient — callers
    cast to their target type."""
    return (x - F.pmod(x, y)) / y


# ---------------------------------------------------------------------------
# q312 — Spearman rank correlation (tie-corrected, exact) between
# discount and quantity per returnflag. Mid-ranks with ties are
# carried as 2×rank (2·cum_before + ties + 1 — integral), computed on
# the VALUE grain: lineitem collapses to (rf, discount, quantity, n)
# counts in one exchange, the rank windows run over the ≤11-value
# discount spine and ≤50-value quantity spine, and the Pearson-on-
# ranks sums are exact DECIMAL(38,0) products. The 2× factors cancel
# in ρ. Scale: the only row-grain operation is the first groupBy.
# ---------------------------------------------------------------------------
_SPEARMAN_RANKS_SQL = """
    counts AS (
        SELECT l_returnflag AS rf, l_discount AS d, l_quantity AS q,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY 1, 2, 3
    ),
    dg AS (
        SELECT rf, d, CAST(sum(n) AS BIGINT) AS n_v FROM counts GROUP BY 1, 2
    ),
    dr AS (
        SELECT rf, d,
               2 * COALESCE(sum(n_v) OVER (
                   PARTITION BY rf ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + n_v + 1 AS r2d
        FROM dg
    ),
    qg AS (
        SELECT rf, q, CAST(sum(n) AS BIGINT) AS n_v FROM counts GROUP BY 1, 2
    ),
    qr AS (
        SELECT rf, q,
               2 * COALESCE(sum(n_v) OVER (
                   PARTITION BY rf ORDER BY q
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + n_v + 1 AS r2q
        FROM qg
    )
"""


@query(
    "q312_spearman_corr",
    oracle=f"""
    WITH {_SPEARMAN_RANKS_SQL},
    sums AS (
        SELECT c.rf,
               CAST(sum(c.n) AS BIGINT) AS n,
               CAST(sum(CAST(c.n AS HUGEINT) * dr.r2d) AS HUGEINT) AS sx,
               CAST(sum(CAST(c.n AS HUGEINT) * qr.r2q) AS HUGEINT) AS sy,
               CAST(sum(CAST(c.n AS HUGEINT) * dr.r2d * qr.r2q) AS HUGEINT) AS sxy,
               CAST(sum(CAST(c.n AS HUGEINT) * dr.r2d * dr.r2d) AS HUGEINT) AS sxx,
               CAST(sum(CAST(c.n AS HUGEINT) * qr.r2q * qr.r2q) AS HUGEINT) AS syy
        FROM counts c
        JOIN dr ON dr.rf = c.rf AND dr.d = c.d
        JOIN qr ON qr.rf = c.rf AND qr.q = c.q
        GROUP BY c.rf
    )
    SELECT rf AS l_returnflag, n AS n_rows,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                           / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                              * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
                ELSE NULL END AS spearman_rho
    FROM sums ORDER BY rf
    """,
)
def q312_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy(
        F.col("l_returnflag").alias("rf"),
        F.col("l_discount").alias("d"),
        F.col("l_quantity").alias("q"),
    ).agg(F.count("*").cast("bigint").alias("n"))

    def ranks2x(val_col: str, out_col: str) -> DataFrame:
        grain = counts.groupBy("rf", val_col).agg(
            F.sum("n").cast("bigint").alias("n_v")
        )
        w = (
            Window.partitionBy("rf")
            .orderBy(val_col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return grain.select(
            "rf",
            val_col,
            (
                2 * F.coalesce(F.sum("n_v").over(w), F.lit(0))
                + F.col("n_v")
                + 1
            ).alias(out_col),
        )

    dr = ranks2x("d", "r2d")
    qr = ranks2x("q", "r2q")
    joined = counts.join(F.broadcast(dr), ["rf", "d"]).join(
        F.broadcast(qr), ["rf", "q"]
    )
    sums = joined.groupBy("rf").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum(_d38(F.col("n")) * _d38(F.col("r2d"))).cast("decimal(38,0)").alias("sx"),
        F.sum(_d38(F.col("n")) * _d38(F.col("r2q"))).cast("decimal(38,0)").alias("sy"),
        F.sum(_d38(F.col("n")) * _d38(F.col("r2d")) * _d38(F.col("r2q")))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(_d38(F.col("n")) * _d38(F.col("r2d")) * _d38(F.col("r2d")))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(_d38(F.col("n")) * _d38(F.col("r2q")) * _d38(F.col("r2q")))
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    n = _d38(F.col("n"))
    var_x = n * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = n * F.col("syy") - F.col("sy") * F.col("sy")
    rho = F.when(
        (var_x > 0) & (var_y > 0),
        F.round(
            (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.sqrt(var_x.cast("double")) * F.sqrt(var_y.cast("double"))),
            6,
        ),
    )
    return sums.select(
        F.col("rf").alias("l_returnflag"),
        F.col("n").alias("n_rows"),
        rho.alias("spearman_rho"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# q313 — Mann-Whitney U test (tie-corrected normal approximation, no
# continuity correction): are 'en' document lengths stochastically
# different from the rest of the corpus? Same value-grain rank trick
# as q312: one groupBy to (n_chars, n_en, n_all) counts, mid-ranks on
# the bounded length spine, 2U₁ = Σ n_en·r2x − n₁(n₁+1) exact, and
# the tie term Σ(t³−t) exact. z = (2U₁ − n₁n₂)/(2σ) rounded 6dp.
# u_x2 rides as BIGINT (exact at any tested scale; a 10¹²-doc corpus
# would carry it as DECIMAL).
# ---------------------------------------------------------------------------
@query(
    "q313_mann_whitney",
    oracle="""
    WITH vals AS (
        SELECT n_chars AS v,
               CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS n1v,
               CAST(count(*) AS BIGINT) AS ntv
        FROM documents GROUP BY 1
    ),
    ranked AS (
        SELECT v, n1v, ntv,
               2 * COALESCE(sum(ntv) OVER (
                   ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + ntv + 1 AS r2x
        FROM vals
    ),
    agg AS (
        SELECT CAST(sum(n1v) AS BIGINT) AS n1,
               CAST(sum(ntv - n1v) AS BIGINT) AS n2,
               CAST(sum(ntv) AS BIGINT) AS nt,
               CAST(sum(CAST(n1v AS HUGEINT) * r2x) AS HUGEINT) AS r1x2,
               CAST(sum(CAST(ntv AS HUGEINT) * ntv * ntv - ntv) AS HUGEINT) AS ties
        FROM ranked
    )
    SELECT n1 AS n_en, n2 AS n_other,
           CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS BIGINT) AS u_x2,
           CASE WHEN n1 > 0 AND n2 > 0 AND nt > 1
                     AND CAST(nt + 1 AS HUGEINT) * nt * (nt - 1) > ties * 1
                THEN round(
                    CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1)
                         - CAST(n1 AS HUGEINT) * n2 AS DOUBLE)
                    / (2.0 * sqrt(
                        CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
                        * (CAST(nt + 1 AS DOUBLE)
                           - CAST(ties AS DOUBLE)
                             / (CAST(nt AS DOUBLE) * CAST(nt - 1 AS DOUBLE))))), 6)
                ELSE NULL END AS z
    FROM agg
    """,
)
def q313_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    vals = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.when(F.col("lang") == "en", 1)).cast("bigint").alias("n1v"),
        F.count("*").cast("bigint").alias("ntv"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    # unpartitioned window over the bounded distinct-length spine
    # (value grain, not doc grain — the q262 convention)
    ranked = vals.select(
        "v",
        "n1v",
        "ntv",
        (2 * F.coalesce(F.sum("ntv").over(w), F.lit(0)) + F.col("ntv") + 1).alias(
            "r2x"
        ),
    )
    agg = ranked.agg(
        F.sum("n1v").cast("bigint").alias("n1"),
        F.sum(F.col("ntv") - F.col("n1v")).cast("bigint").alias("n2"),
        F.sum("ntv").cast("bigint").alias("nt"),
        F.sum(_d38(F.col("n1v")) * _d38(F.col("r2x")))
        .cast("decimal(38,0)")
        .alias("r1x2"),
        F.sum(_d38(F.col("ntv")) * _d38(F.col("ntv")) * _d38(F.col("ntv")) - _d38(F.col("ntv")))
        .cast("decimal(38,0)")
        .alias("ties"),
    )
    n1, n2, nt = F.col("n1"), F.col("n2"), F.col("nt")
    u_x2 = (F.col("r1x2") - _d38(n1) * _d38(n1 + 1)).cast("bigint")
    sigma2 = (
        n1.cast("double")
        * n2.cast("double")
        / F.lit(12.0)
        * (
            (nt + 1).cast("double")
            - F.col("ties").cast("double")
            / (nt.cast("double") * (nt - 1).cast("double"))
        )
    )
    tie_guard = _d38(nt + 1) * _d38(nt) * _d38(nt - 1) > F.col("ties")
    z = F.when(
        (n1 > 0) & (n2 > 0) & (nt > 1) & tie_guard,
        F.round(
            (
                F.col("r1x2") - _d38(n1) * _d38(n1 + 1) - _d38(n1) * _d38(n2)
            ).cast("double")
            / (F.lit(2.0) * F.sqrt(sigma2)),
            6,
        ),
    )
    return agg.select(
        n1.alias("n_en"), n2.alias("n_other"), u_x2.alias("u_x2"), z.alias("z")
    )


# ---------------------------------------------------------------------------
# q314 — one-way ANOVA across sources on document length. Sufficient
# statistics per source are exact integer (n, Σx, Σx²); the rational
# per-group terms S_g²/n_g round to integer micro-units BEFORE the
# cross-group sum (single deterministic division per group — the q217
# ln-micro discipline applied to division), so SSB/SSW are exact
# integer micro arithmetic and F/η² are one double expression each.
# ---------------------------------------------------------------------------
@query(
    "q314_anova_f",
    oracle="""
    WITH g AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_g,
               CAST(sum(n_chars) AS HUGEINT) AS s_g,
               CAST(sum(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT) AS q_g
        FROM documents GROUP BY source
    ),
    terms AS (
        SELECT source, n_g, s_g, q_g,
               CAST(round(1000000.0 * CAST(s_g * s_g AS DOUBLE) / CAST(n_g AS DOUBLE))
                    AS HUGEINT) AS term_micro
        FROM g
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n_g) AS BIGINT) AS n,
               CAST(sum(s_g) AS HUGEINT) AS s,
               CAST(sum(q_g) AS HUGEINT) AS q,
               CAST(sum(term_micro) AS HUGEINT) AS sum_terms_micro
        FROM terms
    )
    SELECT k AS n_groups, n AS n_docs,
           CASE WHEN q * 1000000 - sum_terms_micro > 0 AND k > 1 AND n > k
                THEN round(
                    (CAST(sum_terms_micro
                          - CAST(round(1000000.0 * CAST(s * s AS DOUBLE)
                                       / CAST(n AS DOUBLE)) AS HUGEINT) AS DOUBLE)
                     / CAST(k - 1 AS DOUBLE))
                    / (CAST(q * 1000000 - sum_terms_micro AS DOUBLE)
                       / CAST(n - k AS DOUBLE)), 6)
                ELSE NULL END AS f_stat,
           CASE WHEN q * 1000000
                     - CAST(round(1000000.0 * CAST(s * s AS DOUBLE)
                                  / CAST(n AS DOUBLE)) AS HUGEINT) > 0
                THEN round(
                    CAST(sum_terms_micro
                         - CAST(round(1000000.0 * CAST(s * s AS DOUBLE)
                                      / CAST(n AS DOUBLE)) AS HUGEINT) AS DOUBLE)
                    / CAST(q * 1000000
                           - CAST(round(1000000.0 * CAST(s * s AS DOUBLE)
                                        / CAST(n AS DOUBLE)) AS HUGEINT) AS DOUBLE), 6)
                ELSE NULL END AS eta_sq
    FROM tot
    """,
)
def q314_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum("n_chars").cast("decimal(38,0)").alias("s_g"),
        F.sum(_d38(F.col("n_chars")) * _d38(F.col("n_chars")))
        .cast("decimal(38,0)")
        .alias("q_g"),
    )
    terms = g.withColumn(
        "term_micro",
        F.round(
            F.lit(1000000.0)
            * (F.col("s_g") * F.col("s_g")).cast("double")
            / F.col("n_g").cast("double")
        ).cast("decimal(38,0)"),
    )
    tot = terms.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("decimal(38,0)").alias("s"),
        F.sum("q_g").cast("decimal(38,0)").alias("q"),
        F.sum("term_micro").cast("decimal(38,0)").alias("sum_terms_micro"),
    )
    grand_micro = F.round(
        F.lit(1000000.0)
        * (F.col("s") * F.col("s")).cast("double")
        / F.col("n").cast("double")
    ).cast("decimal(38,0)")
    ssw_micro = F.col("q") * F.lit(1000000).cast("decimal(38,0)") - F.col(
        "sum_terms_micro"
    )
    ssb_micro = F.col("sum_terms_micro") - grand_micro
    k, n = F.col("k"), F.col("n")
    f_stat = F.when(
        (ssw_micro > 0) & (k > 1) & (n > k),
        F.round(
            (ssb_micro.cast("double") / (k - 1).cast("double"))
            / (ssw_micro.cast("double") / (n - k).cast("double")),
            6,
        ),
    )
    sst_micro = F.col("q") * F.lit(1000000).cast("decimal(38,0)") - grand_micro
    eta_sq = F.when(
        sst_micro > 0, F.round(ssb_micro.cast("double") / sst_micro.cast("double"), 6)
    )
    return tot.select(
        k.alias("n_groups"), n.alias("n_docs"),
        f_stat.alias("f_stat"), eta_sq.alias("eta_sq"),
    )


# ---------------------------------------------------------------------------
# q316 — Theil-T inequality index of customer spend per market
# segment: T = Σᵢ (cᵢ/S)·ln(cᵢ·n/S). Per-customer ln rounds to
# integer micro-units (the 6dp ln discipline), the Σ cᵢ·ln_micro
# product sum is exact DECIMAL(38,0), and T = sum/(S·10⁶) is one
# double division, 6dp. Customer spend cᵢ is the exact integer cents
# sum of their orders; the segment spine is ≤5 rows.
# ---------------------------------------------------------------------------
@query(
    "q316_theil_index",
    oracle="""
    WITH spend AS (
        SELECT c.c_mktsegment AS seg, o.o_custkey,
               CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ),
    seg_tot AS (
        SELECT seg, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS HUGEINT) AS s
        FROM spend WHERE cents > 0 GROUP BY seg
    ),
    contrib AS (
        SELECT sp.seg, sp.cents,
               CAST(round(1000000.0 * ln(
                   CAST(sp.cents AS DOUBLE) * CAST(st.n AS DOUBLE)
                   / CAST(st.s AS DOUBLE))) AS BIGINT) AS ln_micro
        FROM spend sp JOIN seg_tot st ON st.seg = sp.seg
        WHERE sp.cents > 0
    )
    SELECT c.seg AS c_mktsegment, max(st.n) AS n_customers,
           round(CAST(sum(CAST(c.cents AS HUGEINT) * c.ln_micro) AS DOUBLE)
                 / (CAST(max(st.s) AS DOUBLE) * 1000000.0), 6) AS theil_t
    FROM contrib c JOIN seg_tot st ON st.seg = c.seg
    GROUP BY c.seg ORDER BY c.seg
    """,
)
def q316_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cc = c.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    spend = (
        o.join(cc, "o_custkey")
        .groupBy(F.col("c_mktsegment").alias("seg"), "o_custkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
        .filter(F.col("cents") > 0)
    )
    seg_tot = spend.groupBy("seg").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("s"),
    )
    contrib = spend.join(F.broadcast(seg_tot), "seg").select(
        "seg",
        "cents",
        "n",
        "s",
        F.round(
            F.lit(1000000.0)
            * F.log(
                F.col("cents").cast("double")
                * F.col("n").cast("double")
                / F.col("s").cast("double")
            )
        )
        .cast("bigint")
        .alias("ln_micro"),
    )
    return (
        contrib.groupBy("seg")
        .agg(
            F.max("n").cast("bigint").alias("n_customers"),
            F.round(
                F.sum(_d38(F.col("cents")) * _d38(F.col("ln_micro")))
                .cast("decimal(38,0)")
                .cast("double")
                / (F.max("s").cast("double") * F.lit(1000000.0)),
                6,
            ).alias("theil_t"),
        )
        .select(
            F.col("seg").alias("c_mktsegment"), "n_customers", "theil_t"
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# q317 — degree assortativity of the supplier→part supply graph:
# Pearson correlation over the (deg(supplier), deg(part)) pairs of
# the DISTINCT edge list — do high-degree suppliers stock
# high-degree parts? Degrees are exact counts; the correlation sums
# are exact DECIMAL(38,0); one 6dp double ratio. Scale: edges come
# from one distinct over (s, p) — a single exchange — and the two
# degree tables join back on their own keys.
# ---------------------------------------------------------------------------
@query(
    "q317_assortativity",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    ds AS (SELECT s, CAST(count(*) AS BIGINT) AS deg_s FROM edges GROUP BY s),
    dp AS (SELECT p, CAST(count(*) AS BIGINT) AS deg_p FROM edges GROUP BY p),
    pairs AS (
        SELECT ds.deg_s AS j, dp.deg_p AS k
        FROM edges e JOIN ds ON ds.s = e.s JOIN dp ON dp.p = e.p
    ),
    sums AS (
        SELECT CAST(count(*) AS BIGINT) AS m,
               CAST(sum(j) AS HUGEINT) AS sj, CAST(sum(k) AS HUGEINT) AS sk,
               CAST(sum(CAST(j AS HUGEINT) * k) AS HUGEINT) AS sjk,
               CAST(sum(CAST(j AS HUGEINT) * j) AS HUGEINT) AS sjj,
               CAST(sum(CAST(k AS HUGEINT) * k) AS HUGEINT) AS skk
        FROM pairs
    )
    SELECT m AS n_edges,
           CASE WHEN m * sjj - sj * sj > 0 AND m * skk - sk * sk > 0
                THEN round(CAST(m * sjk - sj * sk AS DOUBLE)
                           / (sqrt(CAST(m * sjj - sj * sj AS DOUBLE))
                              * sqrt(CAST(m * skk - sk * sk AS DOUBLE))), 6)
                ELSE NULL END AS assortativity
    FROM sums
    """,
)
def q317_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct()
    ds = edges.groupBy("s").agg(F.count("*").cast("bigint").alias("deg_s"))
    dp = edges.groupBy("p").agg(F.count("*").cast("bigint").alias("deg_p"))
    pairs = edges.join(ds, "s").join(dp, "p").select(
        F.col("deg_s").alias("j"), F.col("deg_p").alias("k")
    )
    sums = pairs.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("j").cast("decimal(38,0)").alias("sj"),
        F.sum("k").cast("decimal(38,0)").alias("sk"),
        F.sum(_d38(F.col("j")) * _d38(F.col("k"))).cast("decimal(38,0)").alias("sjk"),
        F.sum(_d38(F.col("j")) * _d38(F.col("j"))).cast("decimal(38,0)").alias("sjj"),
        F.sum(_d38(F.col("k")) * _d38(F.col("k"))).cast("decimal(38,0)").alias("skk"),
    )
    m = _d38(F.col("m"))
    var_j = m * F.col("sjj") - F.col("sj") * F.col("sj")
    var_k = m * F.col("skk") - F.col("sk") * F.col("sk")
    r = F.when(
        (var_j > 0) & (var_k > 0),
        F.round(
            (m * F.col("sjk") - F.col("sj") * F.col("sk")).cast("double")
            / (F.sqrt(var_j.cast("double")) * F.sqrt(var_k.cast("double"))),
            6,
        ),
    )
    return sums.select(F.col("m").alias("n_edges"), r.alias("assortativity"))


# ---------------------------------------------------------------------------
# q322 — Cohen's d effect size of promotion (discount ≥ 5%) on order
# quantity per returnflag: d = (μ₁ − μ₂)/s_pooled. Group sufficient
# statistics are exact integers (quantity is integral in this
# schema); the per-group sum-of-squares terms round to micro-units
# before combining (one deterministic division each, the q314
# pattern); the final d is one double expression, 6dp.
# ---------------------------------------------------------------------------
@query(
    "q322_cohens_d",
    oracle="""
    WITH g AS (
        SELECT l_returnflag AS rf,
               CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS promo,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS HUGEINT) AS s,
               CAST(sum(CAST(CAST(l_quantity AS BIGINT) AS HUGEINT)
                        * CAST(l_quantity AS BIGINT)) AS HUGEINT) AS q
        FROM lineitem GROUP BY 1, 2
    ),
    ss AS (
        SELECT rf, promo, n, s,
               q * 1000000
               - CAST(round(1000000.0 * CAST(s * s AS DOUBLE) / CAST(n AS DOUBLE))
                      AS HUGEINT) AS ss_micro
        FROM g
    ),
    wide AS (
        SELECT rf,
               max(CASE WHEN promo = 1 THEN n END) AS n1,
               max(CASE WHEN promo = 0 THEN n END) AS n2,
               max(CASE WHEN promo = 1 THEN s END) AS s1,
               max(CASE WHEN promo = 0 THEN s END) AS s2,
               max(CASE WHEN promo = 1 THEN ss_micro END) AS ss1,
               max(CASE WHEN promo = 0 THEN ss_micro END) AS ss2
        FROM ss GROUP BY rf
    )
    SELECT rf AS l_returnflag, n1 AS n_promo, n2 AS n_rest,
           CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 2 AND ss1 + ss2 > 0
                THEN round(
                    (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                     - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                    / sqrt((CAST(ss1 + ss2 AS DOUBLE) / 1000000.0)
                           / CAST(n1 + n2 - 2 AS DOUBLE)), 6)
                ELSE NULL END AS cohens_d
    FROM wide ORDER BY rf
    """,
)
def q322_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("bigint")
    g = li.groupBy(
        F.col("l_returnflag").alias("rf"),
        F.when(F.col("l_discount") >= 0.05, 1).otherwise(0).alias("promo"),
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(qty).cast("decimal(38,0)").alias("s"),
        F.sum(_d38(qty) * _d38(qty)).cast("decimal(38,0)").alias("q"),
    )
    ss = g.select(
        "rf",
        "promo",
        "n",
        "s",
        (
            F.col("q") * F.lit(1000000).cast("decimal(38,0)")
            - F.round(
                F.lit(1000000.0)
                * (F.col("s") * F.col("s")).cast("double")
                / F.col("n").cast("double")
            ).cast("decimal(38,0)")
        ).alias("ss_micro"),
    )
    wide = ss.groupBy("rf").agg(
        F.max(F.when(F.col("promo") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("promo") == 0, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("promo") == 1, F.col("s"))).alias("s1"),
        F.max(F.when(F.col("promo") == 0, F.col("s"))).alias("s2"),
        F.max(F.when(F.col("promo") == 1, F.col("ss_micro"))).alias("ss1"),
        F.max(F.when(F.col("promo") == 0, F.col("ss_micro"))).alias("ss2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    d = F.when(
        (n1 > 0) & (n2 > 0) & (n1 + n2 > 2) & (F.col("ss1") + F.col("ss2") > 0),
        F.round(
            (
                F.col("s1").cast("double") / n1.cast("double")
                - F.col("s2").cast("double") / n2.cast("double")
            )
            / F.sqrt(
                ((F.col("ss1") + F.col("ss2")).cast("double") / F.lit(1000000.0))
                / (n1 + n2 - 2).cast("double")
            ),
            6,
        ),
    )
    return wide.select(
        F.col("rf").alias("l_returnflag"),
        n1.alias("n_promo"),
        n2.alias("n_rest"),
        d.alias("cohens_d"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# q315 — two-proportion z-test per nation: is a nation's customer
# conversion rate (has ≥1 FINISHED order, o_orderstatus = 'F' —
# chosen because plain has-any-order is degenerate on this synthetic
# schema: every customer has orders) different from the rest of the
# population? Pooled-proportion z from exact integer counts; the z is
# one double expression per nation row (no cross-row float math),
# rounded 6dp; significance flags compare the ROUNDED z to the 1.96
# literal so both engines decide from identical values.
# ---------------------------------------------------------------------------
@query(
    "q315_two_proportion_z",
    oracle="""
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
        SELECT n_nationkey, n.n_name, c.n AS n1, c.x AS x1,
               t.nt - c.n AS n2, t.xt - c.x AS x2, t.xt, t.nt
        FROM conv c
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        CROSS JOIN tot t
    )
    SELECT n_name, n1 AS n_customers, x1 AS n_converted,
           CASE WHEN n1 > 0 AND n2 > 0 AND xt > 0 AND xt < nt
                THEN round(
                    (CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                     - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                    / sqrt((CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE))
                           * (1.0 - CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE))
                           * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))), 6)
                ELSE NULL END AS z,
           CASE WHEN n1 > 0 AND n2 > 0 AND xt > 0 AND xt < nt
                THEN abs(round(
                    (CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                     - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                    / sqrt((CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE))
                           * (1.0 - CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE))
                           * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))), 6)) > 1.96
                ELSE NULL END AS significant
    FROM z ORDER BY n_name
    """,
)
def q315_two_proportion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    buyers = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    ).distinct().withColumn(
        "bought", F.lit(1)
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
    z_in = (
        conv.crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(
                n.select(F.col("n_nationkey").alias("c_nationkey"), "n_name")
            ),
            "c_nationkey",
        )
        .select(
            "n_name",
            "n1",
            "x1",
            (F.col("nt") - F.col("n1")).alias("n2"),
            (F.col("xt") - F.col("x1")).alias("x2"),
            "nt",
            "xt",
        )
    )
    p1 = F.col("x1").cast("double") / F.col("n1").cast("double")
    p2 = F.col("x2").cast("double") / F.col("n2").cast("double")
    pp = F.col("xt").cast("double") / F.col("nt").cast("double")
    guard = (
        (F.col("n1") > 0)
        & (F.col("n2") > 0)
        & (F.col("xt") > 0)
        & (F.col("xt") < F.col("nt"))
    )
    z = F.when(
        guard,
        F.round(
            (p1 - p2)
            / F.sqrt(
                pp
                * (F.lit(1.0) - pp)
                * (
                    F.lit(1.0) / F.col("n1").cast("double")
                    + F.lit(1.0) / F.col("n2").cast("double")
                )
            ),
            6,
        ),
    )
    return z_in.select(
        "n_name",
        F.col("n1").alias("n_customers"),
        F.col("x1").alias("n_converted"),
        z.alias("z"),
        F.when(guard, F.abs(z) > 1.96).alias("significant"),
    ).orderBy("n_name")


# ---------------------------------------------------------------------------
# q318 — Burrows' Delta stylometric distance between sources over the
# top-20 corpus terms: z-score each term's relative frequency across
# the 5 sources, Delta(a,b) = mean |z_a − z_b|. Relative frequencies
# are exact integer parts-per-billion (floor division of exact
# multiples — Spark decimal-exact, DuckDB HUGEINT //); the per-term
# z is one closed-form integer ratio (m·f − Σf)/√(m·Σf² − (Σf)²)
# rounded to micro-units; Delta sums exact micro ints over the
# 20-term spine. A term constant across sources contributes 0 by
# definition (σ = 0 guard on both engines).
# ---------------------------------------------------------------------------
@query(
    "q318_burrows_delta",
    oracle="""
    WITH toks AS (
        SELECT source, unnest(list_filter(
            string_split_regex(lower(text), '[^a-zA-Z0-9]+'), t -> t <> '')) AS term
        FROM documents
    ),
    tc AS (SELECT source, term, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1, 2),
    totals AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS total FROM tc GROUP BY source),
    top_terms AS (
        SELECT term FROM (
            SELECT term, CAST(sum(cnt) AS BIGINT) AS n
            FROM tc GROUP BY term ORDER BY n DESC, term LIMIT 20
        )
    ),
    f AS (
        SELECT t.term, s.source,
               CAST((CAST(COALESCE(tc.cnt, 0) AS HUGEINT) * 1000000000)
                    // CAST(s.total AS HUGEINT) AS BIGINT) AS f_ppb
        FROM top_terms t
        CROSS JOIN totals s
        LEFT JOIN tc ON tc.term = t.term AND tc.source = s.source
    ),
    stats AS (
        SELECT term, CAST(count(*) AS BIGINT) AS m,
               CAST(sum(f_ppb) AS HUGEINT) AS sf,
               CAST(sum(CAST(f_ppb AS HUGEINT) * f_ppb) AS HUGEINT) AS sff
        FROM f GROUP BY term
    ),
    zed AS (
        SELECT f.term, f.source,
               CASE WHEN s.m * s.sff - s.sf * s.sf > 0
                    THEN CAST(round(1000000.0
                         * CAST(s.m * f.f_ppb - s.sf AS DOUBLE)
                         / sqrt(CAST(s.m * s.sff - s.sf * s.sf AS DOUBLE))) AS BIGINT)
                    ELSE 0 END AS z_micro
        FROM f JOIN stats s ON s.term = f.term
    )
    SELECT source_a, source_b, n_terms,
           delta_micro,
           CAST(delta_micro AS DOUBLE) / 1000000.0 AS delta
    FROM (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(count(*) AS BIGINT) AS n_terms,
               CAST(CAST(sum(abs(a.z_micro - b.z_micro)) AS HUGEINT)
                    // CAST(count(*) AS HUGEINT) AS BIGINT) AS delta_micro
        FROM zed a JOIN zed b ON a.term = b.term AND a.source < b.source
        GROUP BY 1, 2
    ) ORDER BY 1, 2
    """,
)
def q318_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select("source", F.explode(tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    totals = tc.groupBy("source").agg(F.sum("cnt").cast("bigint").alias("total"))
    top_terms = (
        tc.groupBy("term")
        .agg(F.sum("cnt").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(20)
        .select("term")
    )
    scaled = _d38(F.coalesce(F.col("cnt"), F.lit(0))) * F.lit(1000000000).cast(
        "decimal(38,0)"
    )
    f = (
        top_terms.crossJoin(F.broadcast(totals))
        .join(tc, ["term", "source"], "left")
        .select(
            "term",
            "source",
            # exact floor division: subtract the remainder first so
            # the decimal division operates on an exact multiple
            _idiv(scaled, _d38(F.col("total")))
            .cast("bigint")
            .alias("f_ppb"),
        )
    )
    stats = f.groupBy("term").agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("f_ppb").cast("decimal(38,0)").alias("sf"),
        F.sum(_d38(F.col("f_ppb")) * _d38(F.col("f_ppb")))
        .cast("decimal(38,0)")
        .alias("sff"),
    )
    var_num = _d38(F.col("m")) * F.col("sff") - F.col("sf") * F.col("sf")
    zed = f.join(F.broadcast(stats), "term").select(
        "term",
        "source",
        F.when(
            var_num > 0,
            F.round(
                F.lit(1000000.0)
                * (_d38(F.col("m")) * _d38(F.col("f_ppb")) - F.col("sf")).cast(
                    "double"
                )
                / F.sqrt(var_num.cast("double"))
            ).cast("bigint"),
        )
        .otherwise(F.lit(0).cast("bigint"))
        .alias("z_micro"),
    )
    a, b = zed.alias("a"), zed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_terms"),
            F.sum(F.abs(F.col("a.z_micro") - F.col("b.z_micro")))
            .cast("decimal(38,0)")
            .alias("_sum_abs"),
        )
        # mean |Δz| floors to integer micro-units (exact on both
        # engines; a round() here can land on an exact decimal half
        # and flip between the engines' half-rounding — the r06 q318
        # lesson), then the double form is one exact division.
        .select(
            "source_a",
            "source_b",
            "n_terms",
            _idiv(F.col("_sum_abs"), _d38(F.col("n_terms")))
            .cast("bigint")
            .alias("delta_micro"),
        )
        .withColumn("delta", F.col("delta_micro").cast("double") / F.lit(1000000.0))
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# q319 — Flesch reading-ease scoring per document (the classic
# quality/readability gate of a text-curation pipeline): words from
# the shared tokenizer, sentences as [.!?]+ runs, syllables
# approximated as vowel-group runs — all exact regex COUNTS that both
# engines compute identically (character classes only, no dialect
# divergence), composed into one per-row double expression, 6dp.
# Map-side only: no shuffle at all.
# ---------------------------------------------------------------------------
@query(
    "q319_flesch_readability",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(lower(text), '[^a-zA-Z0-9]+'),
                                t -> t <> '')) AS BIGINT) AS n_words,
           CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
           CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables,
           CASE WHEN len(list_filter(string_split_regex(lower(text), '[^a-zA-Z0-9]+'),
                                     t -> t <> '')) > 0
                THEN round(206.835
                     - 1.015 * CAST(len(list_filter(string_split_regex(lower(text), '[^a-zA-Z0-9]+'), t -> t <> '')) AS DOUBLE)
                             / CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE)
                     - 84.6 * CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
                            / CAST(len(list_filter(string_split_regex(lower(text), '[^a-zA-Z0-9]+'), t -> t <> '')) AS DOUBLE), 6)
                ELSE NULL END AS flesch
    FROM documents
    """,
)
def q319_flesch_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    words = F.size(tokens("text")).cast("bigint")
    sentences = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
    ).cast("bigint")
    syllables = F.size(
        F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")
    ).cast("bigint")
    flesch = F.when(
        words > 0,
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * words.cast("double") / sentences.cast("double")
            - F.lit(84.6) * syllables.cast("double") / words.cast("double"),
            6,
        ),
    )
    return docs.select(
        "doc_id",
        words.alias("n_words"),
        sentences.alias("n_sentences"),
        syllables.alias("n_syllables"),
        flesch.alias("flesch"),
    )


# ---------------------------------------------------------------------------
# q320 — deterministic integer-weight bootstrap of mean order value:
# 32 resamples whose per-order weights w ∈ {0,1,2} (P = ¼,½,¼ —
# mean 1, variance ½) come from two md5 bits keyed by
# (o_orderkey, b), so both engines draw IDENTICAL "random" weights.
# Each resample mean is exact integer arithmetic (Σw·cents / Σw,
# rounded to micro-cents once); the across-resample mean floors to
# integer micro (the q318 half-tie lesson) and the SE is one sqrt
# over exact integer sums, scaled by √2 for the weight variance of ½.
# Scale shape: a 32× map-side explode, two exchanges (per-b, then a
# 32-row aggregate) — no data-grain window, no driver loop.
# ---------------------------------------------------------------------------
_BOOT_B = 32


@query(
    "q320_poisson_bootstrap",
    oracle=f"""
    WITH drawn AS (
        SELECT b.b,
               CAST(floor(o.o_totalprice * 100) AS BIGINT) AS cents,
               CASE (CAST('0x' || substr(md5(CAST(o.o_orderkey AS VARCHAR) || '_' || CAST(b.b AS VARCHAR)), 1, 8) AS BIGINT) % 4)
                    WHEN 0 THEN 0 WHEN 3 THEN 2 ELSE 1 END AS w
        FROM orders o CROSS JOIN (SELECT unnest(range(0, {_BOOT_B})) AS b) b
    ),
    per_b AS (
        SELECT b, CAST(sum(w) AS BIGINT) AS n_b,
               CAST(sum(CAST(w AS HUGEINT) * cents) AS HUGEINT) AS s_b
        FROM drawn GROUP BY b
    ),
    means AS (
        SELECT b, CAST(round(1000000.0 * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                       AS BIGINT) AS m_micro
        FROM per_b WHERE n_b > 0
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS nb,
               CAST(sum(m_micro) AS HUGEINT) AS sm,
               CAST(sum(CAST(m_micro AS HUGEINT) * m_micro) AS HUGEINT) AS smm
        FROM means
    )
    SELECT nb AS n_resamples,
           CAST(CAST(sm // nb AS BIGINT) AS DOUBLE) / 1000000.0 AS mean_cents,
           CASE WHEN nb > 1 AND nb * smm - sm * sm >= 0
                THEN round(sqrt(CAST(nb * smm - sm * sm AS DOUBLE)
                                / (CAST(nb AS DOUBLE) * CAST(nb - 1 AS DOUBLE)))
                           * sqrt(2.0) / 1000000.0, 6)
                ELSE NULL END AS se_cents
    FROM agg
    """,
)
def q320_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    drawn = o.select(
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
        "o_orderkey",
    ).select(
        "b",
        "cents",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("o_orderkey").cast("string"),
                            F.lit("_"),
                            F.col("b").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 4
        ).alias("h"),
    ).select(
        "b",
        "cents",
        F.when(F.col("h") == 0, 0).when(F.col("h") == 3, 2).otherwise(1).alias("w"),
    )
    per_b = drawn.groupBy("b").agg(
        F.sum("w").cast("bigint").alias("n_b"),
        F.sum(_d38(F.col("w")) * _d38(F.col("cents")))
        .cast("decimal(38,0)")
        .alias("s_b"),
    )
    means = per_b.filter(F.col("n_b") > 0).select(
        F.round(
            F.lit(1000000.0) * F.col("s_b").cast("double") / F.col("n_b").cast("double")
        )
        .cast("bigint")
        .alias("m_micro")
    )
    agg = means.agg(
        F.count("*").cast("bigint").alias("nb"),
        F.sum("m_micro").cast("decimal(38,0)").alias("sm"),
        F.sum(_d38(F.col("m_micro")) * _d38(F.col("m_micro")))
        .cast("decimal(38,0)")
        .alias("smm"),
    )
    nb = F.col("nb")
    var_num = _d38(nb) * F.col("smm") - F.col("sm") * F.col("sm")
    mean_cents = (
        _idiv(F.col("sm"), _d38(nb))
        .cast("bigint")
        .cast("double")
        / F.lit(1000000.0)
    )
    se = F.when(
        (nb > 1) & (var_num >= 0),
        F.round(
            F.sqrt(
                var_num.cast("double") / (nb.cast("double") * (nb - 1).cast("double"))
            )
            * F.sqrt(F.lit(2.0))
            / F.lit(1000000.0),
            6,
        ),
    )
    return agg.select(
        nb.alias("n_resamples"), mean_cents.alias("mean_cents"), se.alias("se_cents")
    )


# ---------------------------------------------------------------------------
# q321 — frequent episode mining: ordered event-type pairs (a → b)
# occurring within 30 minutes inside one user's stream, with both
# occurrence and user-level support. The classic windowed sequential
# pattern (WINEPI-style) as one user-keyed band self-join — per-user
# event counts bound the pair fan-out, and the 25-row type-pair
# lattice is the output grain. Exact integer counts only.
# ---------------------------------------------------------------------------
@query(
    "q321_episode_mining",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS t FROM events
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM e a JOIN e b
      ON a.user_id = b.user_id
     AND (b.t > a.t OR (b.t = a.t AND b.event_id > a.event_id))
     AND b.t <= a.t + 1800000000
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q321_episode_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("t")
    )
    a, b = ev.alias("a"), ev.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (
            (F.col("b.t") > F.col("a.t"))
            | (
                (F.col("b.t") == F.col("a.t"))
                & (F.col("b.event_id") > F.col("a.event_id"))
            )
        )
        & (F.col("b.t") <= F.col("a.t") + F.lit(1_800_000_000)),
    )
    return (
        pairs.groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.countDistinct(F.col("a.user_id")).cast("bigint").alias("n_users"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# q323 — Kendall τ-b between the daily view series and the daily
# purchase series: concordant/discordant/tied day pairs as exact
# integer counts over the day-grain theta join (O(days²) —
# calendar-bounded like q235, documented in COVERAGE.md's
# domain-bounded table), τ-b = (C − D)/√((n0−n1)(n0−n2)) as one 6dp
# double expression with zero-variance guards.
# ---------------------------------------------------------------------------
@query(
    "q323_kendall_tau_b",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS x,
               CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    pairs AS (
        SELECT CASE WHEN (b.x - a.x) * (b.y - a.y) > 0 THEN 1 ELSE 0 END AS conc,
               CASE WHEN (b.x - a.x) * (b.y - a.y) < 0 THEN 1 ELSE 0 END AS disc,
               CASE WHEN b.x = a.x THEN 1 ELSE 0 END AS tx,
               CASE WHEN b.y = a.y THEN 1 ELSE 0 END AS ty
        FROM daily a JOIN daily b ON b.d > a.d
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n0,
               CAST(sum(conc) AS BIGINT) AS c, CAST(sum(disc) AS BIGINT) AS dd,
               CAST(sum(tx) AS BIGINT) AS n1, CAST(sum(ty) AS BIGINT) AS n2
        FROM pairs
    )
    SELECT n0 AS n_pairs, c AS concordant, dd AS discordant,
           CASE WHEN n0 > n1 AND n0 > n2
                THEN round(CAST(c - dd AS DOUBLE)
                           / sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE)), 6)
                ELSE NULL END AS tau_b
    FROM agg
    """,
)
def q323_kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.when(F.col("event_type") == "view", 1)).cast("bigint").alias("x"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("bigint")
        .alias("y"),
    )
    a, b = daily.alias("a"), daily.alias("b")
    dx = F.col("b.x") - F.col("a.x")
    dy = F.col("b.y") - F.col("a.y")
    pairs = a.join(b, F.col("b.d") > F.col("a.d")).select(
        F.when(dx * dy > 0, 1).otherwise(0).alias("conc"),
        F.when(dx * dy < 0, 1).otherwise(0).alias("disc"),
        F.when(F.col("b.x") == F.col("a.x"), 1).otherwise(0).alias("tx"),
        F.when(F.col("b.y") == F.col("a.y"), 1).otherwise(0).alias("ty"),
    )
    agg = pairs.agg(
        F.count("*").cast("bigint").alias("n0"),
        F.sum("conc").cast("bigint").alias("c"),
        F.sum("disc").cast("bigint").alias("dd"),
        F.sum("tx").cast("bigint").alias("n1"),
        F.sum("ty").cast("bigint").alias("n2"),
    )
    n0, n1, n2 = F.col("n0"), F.col("n1"), F.col("n2")
    tau = F.when(
        (n0 > n1) & (n0 > n2),
        F.round(
            (F.col("c") - F.col("dd")).cast("double")
            / F.sqrt((n0 - n1).cast("double") * (n0 - n2).cast("double")),
            6,
        ),
    )
    return agg.select(
        n0.alias("n_pairs"),
        F.col("c").alias("concordant"),
        F.col("dd").alias("discordant"),
        tau.alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# q326 — water-filling token-budget allocation across sources: given
# a budget of half the corpus tokens, keep every source below the
# water level λ in full and cap the rest at λ, with the integer
# remainder distributed deterministically to the smallest capped
# sources first — the "balance the training mix under a budget"
# primitive. Entirely integer arithmetic on the ≤5-row source spine
# (the heavy work is ONE corpus token count); both engines execute
# the identical closed-form prefix-sum construction.
# ---------------------------------------------------------------------------
@query(
    "q326_waterfill_budget",
    oracle="""
    WITH toks AS (
        SELECT source,
               CAST(sum(len(list_filter(string_split_regex(lower(text), '[^a-zA-Z0-9]+'),
                                        t -> t <> ''))) AS BIGINT) AS tokens
        FROM documents GROUP BY source
    ),
    ordered AS (
        SELECT source, tokens,
               CAST(row_number() OVER (ORDER BY tokens, source) AS BIGINT) AS i,
               CAST(count(*) OVER () AS BIGINT) AS m,
               CAST(COALESCE(sum(tokens) OVER (
                   ORDER BY tokens, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS p_before,
               CAST(sum(tokens) OVER () AS BIGINT) AS total
        FROM toks
    ),
    budget AS (SELECT *, total // 2 AS b FROM ordered),
    kdet AS (
        SELECT *, CASE WHEN tokens * (m - i + 1) <= b - p_before THEN i ELSE 0 END AS k_cand
        FROM budget
    ),
    kval AS (
        SELECT *, max(k_cand) OVER () AS k,
               max(CASE WHEN k_cand > 0 THEN p_before + tokens END) OVER () AS p_k
        FROM kdet
    ),
    lam AS (
        SELECT *,
               CASE WHEN k < m THEN (b - COALESCE(p_k, 0)) // (m - k) ELSE 0 END AS lam_f,
               CASE WHEN k < m THEN (b - COALESCE(p_k, 0)) % (m - k) ELSE 0 END AS r
        FROM kval
    )
    SELECT source, tokens,
           CASE WHEN i <= k THEN tokens
                WHEN i - k <= r THEN lam_f + 1
                ELSE lam_f END AS alloc,
           i > k AS capped
    FROM lam ORDER BY source
    """,
)
def q326_waterfill_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.groupBy("source").agg(
        F.sum(F.size(tokens("text")).cast("bigint")).cast("bigint").alias("tokens")
    )
    # All windows below run over the ≤5-row source spine.
    w_ord = Window.orderBy("tokens", "source")
    w_all = Window.partitionBy()
    ordered = toks.select(
        "source",
        "tokens",
        F.row_number().over(w_ord).cast("bigint").alias("i"),
        F.count("*").over(w_all).cast("bigint").alias("m"),
        F.coalesce(
            F.sum("tokens").over(w_ord.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
        .cast("bigint")
        .alias("p_before"),
        F.sum("tokens").over(w_all).cast("bigint").alias("total"),
    )

    def idiv(x, y):
        return _idiv(x, y).cast("bigint")

    budget = ordered.withColumn("b", idiv(F.col("total"), F.lit(2)))
    kdet = budget.withColumn(
        "k_cand",
        F.when(
            F.col("tokens") * (F.col("m") - F.col("i") + 1)
            <= F.col("b") - F.col("p_before"),
            F.col("i"),
        ).otherwise(F.lit(0)),
    )
    kval = kdet.withColumn("k", F.max("k_cand").over(w_all)).withColumn(
        "p_k",
        F.max(
            F.when(F.col("k_cand") > 0, F.col("p_before") + F.col("tokens"))
        ).over(w_all),
    )
    rem_pool = F.col("b") - F.coalesce(F.col("p_k"), F.lit(0))
    lam = kval.withColumn(
        "lam_f",
        F.when(F.col("k") < F.col("m"), idiv(rem_pool, F.col("m") - F.col("k")))
        .otherwise(F.lit(0)),
    ).withColumn(
        "r",
        F.when(
            F.col("k") < F.col("m"), F.pmod(rem_pool, F.col("m") - F.col("k"))
        ).otherwise(F.lit(0)),
    )
    return lam.select(
        "source",
        "tokens",
        F.when(F.col("i") <= F.col("k"), F.col("tokens"))
        .when(F.col("i") - F.col("k") <= F.col("r"), F.col("lam_f") + 1)
        .otherwise(F.col("lam_f"))
        .alias("alloc"),
        (F.col("i") > F.col("k")).alias("capped"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# q327 — periodogram of the daily order-count series: explicit DFT
# power at periods 2..14 days (the "is there weekly seasonality"
# detector). cos/sin of the identical double argument round to
# micro-units per (day, k) cell — the suite's ln discipline applied
# to trig — and the power sums are exact integer products; the
# argmax period is tie-broken by k. Day-grain × 13 frequencies is
# calendar-bounded.
# ---------------------------------------------------------------------------
@query(
    "q327_periodogram",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    cells AS (
        SELECT k.k, y,
               CAST(round(1000000.0 * cos(2 * pi() * d / k)) AS BIGINT) AS c_micro,
               CAST(round(1000000.0 * sin(2 * pi() * d / k)) AS BIGINT) AS s_micro
        FROM daily CROSS JOIN (SELECT unnest(range(2, 15)) AS k) k
    ),
    power AS (
        SELECT k, CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(CAST(y AS HUGEINT) * c_micro) AS HUGEINT) AS re_u,
               CAST(sum(CAST(y AS HUGEINT) * s_micro) AS HUGEINT) AS im_u
        FROM cells GROUP BY k
    )
    SELECT CAST(k AS BIGINT) AS period_days, n_days,
           round((CAST(re_u AS DOUBLE) * CAST(re_u AS DOUBLE)
                  + CAST(im_u AS DOUBLE) * CAST(im_u AS DOUBLE))
                 / (1e12 * CAST(n_days AS DOUBLE)), 6) AS power
    FROM power ORDER BY period_days
    """,
)
def q327_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("bigint")
        .alias("d")
    ).agg(F.count("*").cast("bigint").alias("y"))
    ks = spark.range(2, 15).select(F.col("id").alias("k"))
    cells = daily.crossJoin(F.broadcast(ks)).select(
        "k",
        "y",
        F.round(
            F.lit(1000000.0)
            * F.cos(
                F.lit(2 * math.pi) * F.col("d").cast("double") / F.col("k").cast("double")
            )
        )
        .cast("bigint")
        .alias("c_micro"),
        F.round(
            F.lit(1000000.0)
            * F.sin(
                F.lit(2 * math.pi) * F.col("d").cast("double") / F.col("k").cast("double")
            )
        )
        .cast("bigint")
        .alias("s_micro"),
    )
    power = cells.groupBy("k").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum(_d38(F.col("y")) * _d38(F.col("c_micro")))
        .cast("decimal(38,0)")
        .alias("re_u"),
        F.sum(_d38(F.col("y")) * _d38(F.col("s_micro")))
        .cast("decimal(38,0)")
        .alias("im_u"),
    )
    return power.select(
        F.col("k").cast("bigint").alias("period_days"),
        "n_days",
        F.round(
            (
                F.col("re_u").cast("double") * F.col("re_u").cast("double")
                + F.col("im_u").cast("double") * F.col("im_u").cast("double")
            )
            / (F.lit(1e12) * F.col("n_days").cast("double")),
            6,
        ).alias("power"),
    ).orderBy("period_days")


# ---------------------------------------------------------------------------
# q328 — Pythagorean means per returnflag: arithmetic, geometric
# (exp of the mean of per-row ln-micro, the suite discipline), and
# harmonic (per-row reciprocal in pico-units, exact integer sums).
# The three-mean inequality AM ≥ GM ≥ HM is a free cross-check the
# independent test asserts.
# ---------------------------------------------------------------------------
@query(
    "q328_pythagorean_means",
    oracle="""
    WITH rows_ AS (
        SELECT l_returnflag AS rf,
               CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
               CAST(round(1000000.0 * ln(floor(l_extendedprice * 100))) AS BIGINT) AS ln_micro,
               CAST(round(1e12 / floor(l_extendedprice * 100)) AS BIGINT) AS inv_pico
        FROM lineitem WHERE floor(l_extendedprice * 100) > 0
    ),
    agg AS (
        SELECT rf, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS HUGEINT) AS s,
               CAST(sum(ln_micro) AS HUGEINT) AS sl,
               CAST(sum(inv_pico) AS HUGEINT) AS si
        FROM rows_ GROUP BY rf
    )
    SELECT rf AS l_returnflag, n AS n_rows,
           round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6) AS arith_mean,
           round(exp(CAST(sl AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)) / 100.0, 6) AS geo_mean,
           round(CAST(n AS DOUBLE) * 1e12 / CAST(si AS DOUBLE) / 100.0, 6) AS harm_mean
    FROM agg ORDER BY rf
    """,
)
def q328_pythagorean_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100).cast("bigint")
    rows_ = li.select(
        F.col("l_returnflag").alias("rf"),
        cents.alias("cents"),
        F.round(F.lit(1000000.0) * F.log(cents.cast("double")))
        .cast("bigint")
        .alias("ln_micro"),
        F.round(F.lit(1e12) / cents.cast("double")).cast("bigint").alias("inv_pico"),
    ).filter(F.col("cents") > 0)
    agg = rows_.groupBy("rf").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("s"),
        F.sum("ln_micro").cast("decimal(38,0)").alias("sl"),
        F.sum("inv_pico").cast("decimal(38,0)").alias("si"),
    )
    n_d = F.col("n").cast("double")
    return agg.select(
        F.col("rf").alias("l_returnflag"),
        F.col("n").alias("n_rows"),
        F.round(F.col("s").cast("double") / n_d / F.lit(100.0), 6).alias("arith_mean"),
        F.round(
            F.exp(F.col("sl").cast("double") / (n_d * F.lit(1000000.0))) / F.lit(100.0),
            6,
        ).alias("geo_mean"),
        F.round(n_d * F.lit(1e12) / F.col("si").cast("double") / F.lit(100.0), 6).alias(
            "harm_mean"
        ),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# q329 — Tukey-fence outlier audit per returnflag on quantity:
# rank-method quartiles computed on the VALUE grain (quantity's ≤50
# distinct values — cumulative counts, no data-grain window), fences
# at Q1/Q3 ∓ 1.5·IQR in exact quarter-units (4·fence ∈ ℤ — no float
# in the comparison), and exact outlier counts per side.
# ---------------------------------------------------------------------------
@query(
    "q329_tukey_outliers",
    oracle="""
    WITH counts AS (
        SELECT l_returnflag AS rf, CAST(l_quantity AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
        SELECT rf, v, n,
               CAST(COALESCE(sum(n) OVER (
                   PARTITION BY rf ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS before,
               CAST(sum(n) OVER (PARTITION BY rf) AS BIGINT) AS nt
        FROM counts
    ),
    quart AS (
        SELECT rf, max(nt) AS nt,
               max(CASE WHEN before < (nt + 3) // 4 AND (nt + 3) // 4 <= before + n
                        THEN v END) AS q1,
               max(CASE WHEN before < (3 * nt + 3) // 4 AND (3 * nt + 3) // 4 <= before + n
                        THEN v END) AS q3
        FROM cum GROUP BY rf
    ),
    fences AS (
        SELECT rf, nt, q1, q3,
               4 * q1 - 6 * (q3 - q1) AS lo4,
               4 * q3 + 6 * (q3 - q1) AS hi4
        FROM quart
    )
    SELECT f.rf AS l_returnflag, f.nt AS n_rows, f.q1, f.q3,
           CAST(sum(CASE WHEN 4 * c.v < f.lo4 THEN c.n ELSE 0 END) AS BIGINT) AS n_low,
           CAST(sum(CASE WHEN 4 * c.v > f.hi4 THEN c.n ELSE 0 END) AS BIGINT) AS n_high
    FROM fences f JOIN counts c ON c.rf = f.rf
    GROUP BY 1, 2, 3, 4 ORDER BY 1
    """,
)
def q329_tukey_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy(
        F.col("l_returnflag").alias("rf"),
        F.col("l_quantity").cast("bigint").alias("v"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    w_before = (
        Window.partitionBy("rf").orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy("rf")
    cum = counts.select(
        "rf",
        "v",
        "n",
        F.coalesce(F.sum("n").over(w_before), F.lit(0)).cast("bigint").alias("before"),
        F.sum("n").over(w_all).cast("bigint").alias("nt"),
    )

    def idiv(x, y):
        return _idiv(x, y).cast("bigint")

    r1 = idiv(F.col("nt") + 3, F.lit(4))  # ceil(nt/4)
    r3 = idiv(3 * F.col("nt") + 3, F.lit(4))  # ceil(3nt/4)
    quart = cum.groupBy("rf").agg(
        F.max("nt").alias("nt"),
        F.max(
            F.when((F.col("before") < r1) & (r1 <= F.col("before") + F.col("n")), F.col("v"))
        ).alias("q1"),
        F.max(
            F.when((F.col("before") < r3) & (r3 <= F.col("before") + F.col("n")), F.col("v"))
        ).alias("q3"),
    )
    fences = quart.select(
        "rf",
        "nt",
        "q1",
        "q3",
        (4 * F.col("q1") - 6 * (F.col("q3") - F.col("q1"))).alias("lo4"),
        (4 * F.col("q3") + 6 * (F.col("q3") - F.col("q1"))).alias("hi4"),
    )
    return (
        fences.join(counts, "rf")
        .groupBy("rf", "nt", "q1", "q3")
        .agg(
            F.sum(F.when(4 * F.col("v") < F.col("lo4"), F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("n_low"),
            F.sum(F.when(4 * F.col("v") > F.col("hi4"), F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("n_high"),
        )
        .select(
            F.col("rf").alias("l_returnflag"),
            F.col("nt").alias("n_rows"),
            "q1",
            "q3",
            "n_low",
            "n_high",
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# q331 — Simpson diversity index of each source's term distribution:
# D = Σ n_t(n_t−1) / (N(N−1)) — a fully RATIONAL statistic (no
# transcendental at all), floored to parts-per-billion on both
# engines, with the double form one exact division. 1−D (diversity)
# also reported. Term-grain exchange only; documents never shuffle.
# ---------------------------------------------------------------------------
@query(
    "q331_simpson_diversity",
    oracle="""
    WITH tc AS (
        SELECT source, unnest(list_filter(
            string_split_regex(lower(text), '[^a-zA-Z0-9]+'), t -> t <> '')) AS term
        FROM documents
    ),
    cnt AS (SELECT source, term, CAST(count(*) AS BIGINT) AS n FROM tc GROUP BY 1, 2),
    agg AS (
        SELECT source,
               CAST(sum(n) AS BIGINT) AS nt,
               CAST(sum(CAST(n AS HUGEINT) * (n - 1)) AS HUGEINT) AS num
        FROM cnt GROUP BY source
    )
    SELECT source, nt AS n_tokens,
           CAST((num * 1000000000) // (CAST(nt AS HUGEINT) * (nt - 1)) AS BIGINT) AS d_ppb,
           CAST(CAST((num * 1000000000) // (CAST(nt AS HUGEINT) * (nt - 1)) AS BIGINT) AS DOUBLE)
             / 1000000000.0 AS simpson_d
    FROM agg WHERE nt > 1 ORDER BY source
    """,
)
def q331_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select("source", F.explode(tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    agg = cnt.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum(_d38(F.col("n")) * _d38(F.col("n") - 1))
        .cast("decimal(38,0)")
        .alias("num"),
    )
    scaled = F.col("num") * F.lit(1000000000).cast("decimal(38,0)")
    den = _d38(F.col("nt")) * _d38(F.col("nt") - 1)
    d_ppb = _idiv(scaled, den).cast("bigint")
    return (
        agg.filter(F.col("nt") > 1)
        .select(
            "source",
            F.col("nt").alias("n_tokens"),
            d_ppb.alias("d_ppb"),
            (d_ppb.cast("double") / F.lit(1000000000.0)).alias("simpson_d"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q330 — KL divergence of each source's unigram distribution from the
# corpus distribution over the top-100 corpus terms (add-1 smoothed):
# the training-mix drift detector. Per-term ln(p/q) arguments are
# EXACT integer ratios evaluated in double (products < 2^53), rounded
# to micro-units, weighted by exact integer numerators, and divided
# once at the end — the q217 LLR discipline applied to KL.
# ---------------------------------------------------------------------------
@query(
    "q330_kl_divergence",
    oracle="""
    WITH toks AS (
        SELECT source, unnest(list_filter(
            string_split_regex(lower(text), '[^a-zA-Z0-9]+'), t -> t <> '')) AS term
        FROM documents
    ),
    tc AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2),
    top_terms AS (
        SELECT term, CAST(sum(c) AS BIGINT) AS cc FROM tc
        GROUP BY term ORDER BY cc DESC, term LIMIT 100
    ),
    corpus_tot AS (SELECT CAST(sum(cc) AS BIGINT) AS tc_all FROM top_terms),
    src_tot AS (
        SELECT tc.source, CAST(sum(tc.c) AS BIGINT) AS ts_all
        FROM tc JOIN top_terms tt ON tt.term = tc.term
        GROUP BY tc.source
    ),
    cells AS (
        SELECT st.source, tt.term, COALESCE(tc.c, 0) + 1 AS p_num,
               st.ts_all + 100 AS p_den, tt.cc + 1 AS q_num, ct.tc_all + 100 AS q_den
        FROM top_terms tt
        CROSS JOIN src_tot st
        CROSS JOIN corpus_tot ct
        LEFT JOIN tc ON tc.term = tt.term AND tc.source = st.source
    ),
    contrib AS (
        SELECT source, p_den,
               CAST(p_num AS HUGEINT)
               * CAST(round(1000000.0 * ln(
                     (CAST(p_num AS DOUBLE) * CAST(q_den AS DOUBLE))
                     / (CAST(p_den AS DOUBLE) * CAST(q_num AS DOUBLE)))) AS HUGEINT)
               AS w_micro
        FROM cells
    )
    SELECT source,
           round(CAST(sum(w_micro) AS DOUBLE)
                 / (CAST(max(p_den) AS DOUBLE) * 1000000.0), 6) AS kl_nats
    FROM contrib GROUP BY source ORDER BY source
    """,
)
def q330_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        .orderBy(F.desc("cc"), F.asc("term"))
        .limit(100)
    )
    corpus_tot = top_terms.agg(F.sum("cc").cast("bigint").alias("tc_all"))
    src_tot = (
        tc.join(F.broadcast(top_terms.select("term")), "term")
        .groupBy("source")
        .agg(F.sum("c").cast("bigint").alias("ts_all"))
    )
    cells = (
        top_terms.crossJoin(F.broadcast(src_tot))
        .crossJoin(F.broadcast(corpus_tot))
        .join(tc, ["term", "source"], "left")
        .select(
            "source",
            (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("bigint").alias("p_num"),
            (F.col("ts_all") + 100).cast("bigint").alias("p_den"),
            (F.col("cc") + 1).cast("bigint").alias("q_num"),
            (F.col("tc_all") + 100).cast("bigint").alias("q_den"),
        )
    )
    contrib = cells.select(
        "source",
        "p_den",
        (
            _d38(F.col("p_num"))
            * F.round(
                F.lit(1000000.0)
                * F.log(
                    (F.col("p_num").cast("double") * F.col("q_den").cast("double"))
                    / (F.col("p_den").cast("double") * F.col("q_num").cast("double"))
                )
            ).cast("decimal(38,0)")
        ).alias("w_micro"),
    )
    return (
        contrib.groupBy("source")
        .agg(
            F.round(
                F.sum("w_micro").cast("decimal(38,0)").cast("double")
                / (F.max("p_den").cast("double") * F.lit(1000000.0)),
                6,
            ).alias("kl_nats")
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q332 — event-type transition entropy: per from-state, the Shannon
# entropy of the next-event distribution (the "how predictable is the
# user's next move" metric on top of q121's transition matrix). One
# user-keyed lead window at event grain (the established q112/q241
# exchange), then everything lives on the ≤25-cell transition lattice
# with exact counts and micro-rounded ln.
# ---------------------------------------------------------------------------
@query(
    "q332_transition_entropy",
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
    tot AS (SELECT a, CAST(sum(n) AS BIGINT) AS na FROM cnt GROUP BY a),
    contrib AS (
        SELECT c.a, t.na,
               CAST(c.n AS HUGEINT)
               * CAST(round(1000000.0 * ln(CAST(c.n AS DOUBLE) / CAST(t.na AS DOUBLE)))
                      AS HUGEINT) AS w_micro
        FROM cnt c JOIN tot t ON t.a = c.a
    )
    SELECT a AS from_type, max(na) AS n_transitions,
           round(-CAST(sum(w_micro) AS DOUBLE) / (CAST(max(na) AS DOUBLE) * 1000000.0), 6)
             AS entropy_nats
    FROM contrib GROUP BY a ORDER BY a
    """,
)
def q332_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = ev.select(
        F.col("event_type").alias("a"), F.lead("event_type").over(w).alias("b")
    ).filter(F.col("b").isNotNull())
    cnt = stepped.groupBy("a", "b").agg(F.count("*").cast("bigint").alias("n"))
    tot = cnt.groupBy("a").agg(F.sum("n").cast("bigint").alias("na"))
    contrib = cnt.join(F.broadcast(tot), "a").select(
        "a",
        "na",
        (
            _d38(F.col("n"))
            * F.round(
                F.lit(1000000.0)
                * F.log(F.col("n").cast("double") / F.col("na").cast("double"))
            ).cast("decimal(38,0)")
        ).alias("w_micro"),
    )
    return (
        contrib.groupBy("a")
        .agg(
            F.max("na").alias("n_transitions"),
            F.round(
                -F.sum("w_micro").cast("decimal(38,0)").cast("double")
                / (F.max("na").cast("double") * F.lit(1000000.0)),
                6,
            ).alias("entropy_nats"),
        )
        .select(F.col("a").alias("from_type"), "n_transitions", "entropy_nats")
        .orderBy("from_type")
    )


# ---------------------------------------------------------------------------
# q333 — Holt linear (double) exponential smoothing of daily revenue
# (α=0.5, β=0.3), forecasting one day ahead. The recurrence folds
# LEFT-TO-RIGHT over the day-sorted series with the IDENTICAL
# floating-point expression tree on both engines (Spark: one
# F.aggregate over the calendar-bounded collected array; DuckDB: a
# recursive CTE stepping the same arithmetic), so the smoothed state
# is bit-deterministic — sequential-fold parity, the same argument
# that makes the vector-math oracles exact. Day grain is
# calendar-bounded, so the single collected array is ≤ a few KB.
# ---------------------------------------------------------------------------
@query(
    "q333_holt_smoothing",
    oracle="""
    WITH RECURSIVE daily AS (
        SELECT CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    series AS (
        SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i,
               CAST(cents AS DOUBLE) AS y
        FROM daily
    ),
    bounds AS (SELECT CAST(max(i) AS BIGINT) AS m FROM series),
    holt(i, l, b) AS (
        SELECT CAST(1 AS BIGINT), y, CAST(0.0 AS DOUBLE) FROM series WHERE i = 1
        UNION ALL
        SELECT h.i + 1,
               0.5 * s.y + 0.5 * (h.l + h.b),
               0.3 * ((0.5 * s.y + 0.5 * (h.l + h.b)) - h.l) + 0.7 * h.b
        FROM holt h JOIN series s ON s.i = h.i + 1
    )
    SELECT (SELECT m FROM bounds) AS n_days,
           round(l / 100.0, 6) AS level_dollars,
           round(b / 100.0, 6) AS trend_dollars,
           round((l + b) / 100.0, 6) AS forecast_dollars
    FROM holt WHERE i = (SELECT m FROM bounds)
    """,
)
def q333_holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
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
            F.collect_list(F.struct(F.col("d"), F.col("cents").cast("double").alias("y")))
        ).alias("arr")
    )
    arr = F.col("arr")
    rest = F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0)))
    init = F.struct(
        F.element_at(arr, 1)["y"].alias("l"), F.lit(0.0).alias("b")
    )

    def step(acc, s):
        l_new = F.lit(0.5) * s["y"] + F.lit(0.5) * (acc["l"] + acc["b"])
        return F.struct(
            l_new.alias("l"),
            (F.lit(0.3) * (l_new - acc["l"]) + F.lit(0.7) * acc["b"]).alias("b"),
        )

    folded = one.select(
        F.size(arr).cast("bigint").alias("n_days"),
        F.aggregate(rest, init, step).alias("st"),
    )
    # n_days > 0 guard: on an EMPTY orders table the ungrouped agg
    # still emits one all-NULL row while the oracle's recursive CTE
    # anchor matches nothing (0 rows) — row-count mismatch (review
    # finding; never fires at the shipped SFs).
    return folded.filter(F.col("n_days") > 0).select(
        "n_days",
        F.round(F.col("st.l") / F.lit(100.0), 6).alias("level_dollars"),
        F.round(F.col("st.b") / F.lit(100.0), 6).alias("trend_dollars"),
        F.round((F.col("st.l") + F.col("st.b")) / F.lit(100.0), 6).alias(
            "forecast_dollars"
        ),
    )


# ---------------------------------------------------------------------------
# q334 — Cramér's V association between event type and day-of-week:
# χ² from exact integer contingency counts (expected cells
# micro-rounded per cell — single deterministic division each), then
# V = √(χ²/(n·(min(r,c)−1))). The whole computation lives on the
# ≤35-cell lattice after one event-grain rollup.
# ---------------------------------------------------------------------------
@query(
    "q334_cramers_v",
    oracle="""
    WITH cells AS (
        SELECT event_type AS et, CAST(dayofweek(ts) AS BIGINT) AS dow,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    rows_ AS (SELECT et, CAST(sum(n) AS BIGINT) AS r FROM cells GROUP BY et),
    cols_ AS (SELECT dow, CAST(sum(n) AS BIGINT) AS c FROM cells GROUP BY dow),
    tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS nt,
               CAST(count(DISTINCT et) AS BIGINT) AS nr,
               CAST(count(DISTINCT dow) AS BIGINT) AS nc
        FROM cells
    ),
    chi AS (
        SELECT CAST(sum(
            CAST(round(1000000.0
                * (CAST(cl.n AS DOUBLE) - CAST(r.r AS DOUBLE) * CAST(c.c AS DOUBLE) / CAST(t.nt AS DOUBLE))
                * (CAST(cl.n AS DOUBLE) - CAST(r.r AS DOUBLE) * CAST(c.c AS DOUBLE) / CAST(t.nt AS DOUBLE))
                / (CAST(r.r AS DOUBLE) * CAST(c.c AS DOUBLE) / CAST(t.nt AS DOUBLE))) AS HUGEINT)
        ) AS HUGEINT) AS chi2_micro,
        max(t.nt) AS nt, max(t.nr) AS nr, max(t.nc) AS nc
        FROM cells cl
        JOIN rows_ r ON r.et = cl.et
        JOIN cols_ c ON c.dow = cl.dow
        CROSS JOIN tot t
    )
    SELECT nt AS n_events, nr AS n_types, nc AS n_days,
           round(CAST(chi2_micro AS DOUBLE) / 1000000.0, 6) AS chi2,
           CASE WHEN least(nr, nc) > 1 AND nt > 0
                THEN round(sqrt(CAST(chi2_micro AS DOUBLE)
                                / (1000000.0 * CAST(nt AS DOUBLE)
                                   * CAST(least(nr, nc) - 1 AS DOUBLE))), 6)
                ELSE NULL END AS cramers_v
    FROM chi
    """,
)
def q334_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("event_type").alias("et"), F.dayofweek("ts").cast("bigint").alias("dow")
    ).agg(F.count("*").cast("bigint").alias("n"))
    rows_ = cells.groupBy("et").agg(F.sum("n").cast("bigint").alias("r"))
    cols_ = cells.groupBy("dow").agg(F.sum("n").cast("bigint").alias("c"))
    tot = cells.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.countDistinct("et").cast("bigint").alias("nr"),
        F.countDistinct("dow").cast("bigint").alias("nc"),
    )
    joined = (
        cells.join(F.broadcast(rows_), "et")
        .join(F.broadcast(cols_), "dow")
        .crossJoin(F.broadcast(tot))
    )
    e = F.col("r").cast("double") * F.col("c").cast("double") / F.col("nt").cast("double")
    cell_micro = F.round(
        F.lit(1000000.0)
        * (F.col("n").cast("double") - e)
        * (F.col("n").cast("double") - e)
        / e
    ).cast("decimal(38,0)")
    chi = joined.agg(
        F.sum(cell_micro).cast("decimal(38,0)").alias("chi2_micro"),
        F.max("nt").alias("nt"),
        F.max("nr").alias("nr"),
        F.max("nc").alias("nc"),
    )
    v = F.when(
        (F.least(F.col("nr"), F.col("nc")) > 1) & (F.col("nt") > 0),
        F.round(
            F.sqrt(
                F.col("chi2_micro").cast("double")
                / (
                    F.lit(1000000.0)
                    * F.col("nt").cast("double")
                    * (F.least(F.col("nr"), F.col("nc")) - 1).cast("double")
                )
            ),
            6,
        ),
    )
    return chi.select(
        F.col("nt").alias("n_events"),
        F.col("nr").alias("n_types"),
        F.col("nc").alias("n_days"),
        F.round(F.col("chi2_micro").cast("double") / F.lit(1000000.0), 6).alias("chi2"),
        v.alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# q338 — systematic (every k-th) sampling under a deterministic
# pseudo-random order: rank documents by (md5(text), doc_id) — an
# engine-portable shuffle — and keep every 10th rank. Completes the
# sampling family (q37 hash-split, q39 stratified, q69/q311
# weighted): systematic sampling gives exact 1/k rates with spread
# guarantees. The global rank runs through the two-phase
# range-exchange rank (operators/rank.with_global_rank), never a
# single-partition window.
# ---------------------------------------------------------------------------
@query(
    "q338_systematic_sample",
    oracle="""
    SELECT doc_id, CAST(rn AS BIGINT) AS rn
    FROM (
        SELECT doc_id, row_number() OVER (ORDER BY md5(text), doc_id) AS rn
        FROM documents
    ) WHERE rn % 10 = 1
    ORDER BY rn
    """,
)
def q338_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.rank import with_global_rank

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("_h")
    )
    ranked = with_global_rank(docs, "_h", "doc_id", rank_col="rn")
    return (
        ranked.filter(F.pmod(F.col("rn"), F.lit(10)) == 1)
        .select("doc_id", F.col("rn").cast("bigint").alias("rn"))
        .orderBy("rn")
    )


# ---------------------------------------------------------------------------
# q340 — exact Shapley-value channel attribution: each user's journey
# is the SET of non-purchase channels they touched; the coalition
# value v(S) is the purchase rate among users whose journey is
# exactly S (unobserved coalitions contribute 0, the standard
# empirical-Shapley convention); each channel's credit is the
# factorial-weighted average marginal contribution over the subset
# lattice. Entirely exact: the user grain collapses to a ≤2ⁿ-row
# bitmask rollup (one exchange), v quantizes to micro-units (one
# deterministic division per observed coalition), and the Shapley sum
# is integer factorial weights × integer micro marginals, divided
# once by n!·10⁶. The lattice (n = 4 channels → 16 masks × 4
# channels) is generated with sequence + bit tests on both engines.
# ---------------------------------------------------------------------------
@query(
    "q340_shapley_attribution",
    oracle="""
    WITH channels AS (
        SELECT event_type AS ch,
               CAST(row_number() OVER (ORDER BY event_type) - 1 AS BIGINT) AS bit
        FROM (SELECT DISTINCT event_type FROM events WHERE event_type <> 'purchase')
    ),
    n_ch AS (SELECT CAST(count(*) AS BIGINT) AS n FROM channels),
    users AS (
        SELECT e.user_id,
               CAST(COALESCE(sum(DISTINCT CASE WHEN e.event_type <> 'purchase'
                    THEN (1 << c.bit) END), 0) AS BIGINT) AS mask,
               CAST(max(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS conv
        FROM events e LEFT JOIN channels c ON c.ch = e.event_type
        GROUP BY e.user_id
    ),
    coal AS (
        SELECT mask, CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(conv) AS BIGINT) AS n_conv
        FROM users GROUP BY mask
    ),
    v AS (
        SELECT mask, CAST(round(1000000.0 * CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE)) AS BIGINT) AS v_micro
        FROM coal
    ),
    lattice AS (
        SELECT c.ch, c.bit, s.s AS smask, CAST(bit_count(s.s) AS BIGINT) AS ssize, n.n
        FROM channels c
        CROSS JOIN n_ch n
        CROSS JOIN (SELECT unnest(range(0, 1 << (SELECT n FROM n_ch))) AS s) s
        WHERE (s.s >> c.bit) % 2 = 0
    ),
    marginals AS (
        SELECT l.ch, l.n, l.ssize,
               COALESCE(v1.v_micro, 0) - COALESCE(v0.v_micro, 0) AS m_micro
        FROM lattice l
        LEFT JOIN v v0 ON v0.mask = l.smask
        LEFT JOIN v v1 ON v1.mask = l.smask + (1 << l.bit)
    )
    SELECT ch AS channel,
           round(CAST(sum(factorial(CAST(ssize AS INTEGER)) * factorial(CAST(n - ssize - 1 AS INTEGER)) * m_micro) AS DOUBLE)
                 / (CAST(factorial(CAST(max(n) AS INTEGER)) AS DOUBLE) * 1000000.0), 6) AS shapley_credit
    FROM marginals GROUP BY ch ORDER BY ch
    """,
)
def q340_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shapley_attribution(load_table(spark, sf_dir, "events"))


def shapley_attribution(ev: DataFrame) -> DataFrame:
    """Exact Shapley channel attribution over an events frame.

    Factored out of q340 so the exponential-lattice guard is unit-
    testable against synthetic high-cardinality channel sets without
    touching the parquet fixtures.
    """
    channels = (
        ev.filter(F.col("event_type") != "purchase")
        .select(F.col("event_type").alias("ch"))
        .distinct()
        .select(
            "ch",
            (F.row_number().over(Window.orderBy("ch")) - 1)
            .cast("bigint")
            .alias("bit"),
        )
    )
    # Exponential-lattice guard (VERDICT r07 item 8, COVERAGE.md theta
    # table): the coalition lattice is 2^|channels| x |channels| rows —
    # fine for the single-digit event_type domain, a 20M-row broadcast
    # at 20 channels and game over at 30. Fail fast and name the
    # fallback instead of expanding. The count() is a bounded-grain
    # action on the distinct channel domain.
    n_channels = channels.count()
    if n_channels > 16:
        raise ValueError(
            f"shapley_attribution: {n_channels} channels would expand a "
            f"2^{n_channels}-row coalition lattice; exact Shapley is capped "
            "at 16 channels — for high-cardinality channel keys use "
            "permutation-sampling Shapley (sample k random channel orderings "
            "per conversion and average marginal contributions: unbiased, "
            "O(k*|channels|) per row, fully distributable)"
        )
    n_ch = channels.agg(F.count("*").cast("bigint").alias("n"))
    users = (
        ev.join(F.broadcast(channels), ev["event_type"] == channels["ch"], "left")
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum_distinct(
                    F.when(
                        F.col("event_type") != "purchase",
                        F.expr("shiftleft(1L, CAST(bit AS INT))"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("mask"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("bigint")
            .alias("conv"),
        )
    )
    coal = users.groupBy("mask").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("conv").cast("bigint").alias("n_conv"),
    )
    v = coal.select(
        "mask",
        F.round(
            F.lit(1000000.0)
            * F.col("n_conv").cast("double")
            / F.col("n_users").cast("double")
        )
        .cast("bigint")
        .alias("v_micro"),
    )
    # subset lattice: all masks not containing each channel's bit
    masks = (
        n_ch.select(
            F.explode(
                F.sequence(
                    F.lit(0).cast("bigint"),
                    F.expr("shiftleft(1L, CAST(n AS INT))").cast("bigint") - 1,
                )
            ).alias("smask"),
            "n",
        )
    )
    lattice = (
        channels.crossJoin(F.broadcast(masks))
        .filter(F.pmod(F.expr("shiftright(smask, CAST(bit AS INT))"), 2) == 0)
        .select(
            "ch",
            "bit",
            "smask",
            F.bit_count("smask").cast("bigint").alias("ssize"),
            "n",
        )
    )
    v0 = v.select(F.col("mask").alias("smask"), F.col("v_micro").alias("v0"))
    v1 = v.select(F.col("mask").alias("m1"), F.col("v_micro").alias("v1"))
    marg = (
        lattice.join(F.broadcast(v0), "smask", "left")
        .join(
            F.broadcast(v1),
            F.col("m1")
            == F.col("smask") + F.expr("shiftleft(1L, CAST(bit AS INT))").cast("bigint"),
            "left",
        )
        .select(
            "ch",
            "n",
            "ssize",
            (F.coalesce("v1", F.lit(0)) - F.coalesce("v0", F.lit(0))).alias("m_micro"),
        )
    )
    def factorial_col(c):
        # native factorial on both engines (Spark F.factorial / DuckDB
        # factorial), valid through the 16-channel guard above — the
        # old literal CASE silently capped at 5! and would have
        # diverged from the oracle at >= 6 channels.
        return F.factorial(c.cast("int")).cast("bigint")

    return (
        marg.groupBy("ch")
        .agg(
            F.round(
                F.sum(
                    _d38(factorial_col(F.col("ssize")))
                    * _d38(factorial_col(F.col("n") - F.col("ssize") - 1))
                    * _d38(F.col("m_micro"))
                )
                .cast("decimal(38,0)")
                .cast("double")
                / (factorial_col(F.max("n")).cast("double") * F.lit(1000000.0)),
                6,
            ).alias("shapley_credit")
        )
        .select(F.col("ch").alias("channel"), "shapley_credit")
        .orderBy("channel")
    )
