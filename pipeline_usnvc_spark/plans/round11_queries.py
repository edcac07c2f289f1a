"""Round-11 query family: verification-depth companions (VERDICT r10
items 4 and 6) plus the incremental/transactional-maintenance pair
(item 8: q427 MERGE-ledger compaction, q428 snapshot diff — described
at their definitions below).

q363 (ridge probe) and q373 (whitening) are rows-only because their
64x64 LAPACK factorizations (solve / Cholesky) produce float64 bit
patterns no SQL engine can reproduce. But the NUMERIC PATH they ride
— exact quantized sufficient statistics -> closed-form solve ->
distributed re-verification — IS hash-certifiable when the solve is
small enough to have an exact closed form. These queries pin that
path with DuckDB oracles at the 2x2 block grain, where every
intermediate is an integer or an IEEE-deterministic double:

- q424 streaming deletion-staleness maintenance: the streaming twin
  of q423's deletion-aware advisor (VERDICT r10 item 6). A lakehouse
  doesn't rescan the table to decide vacuums — per-partition
  liveness stats are MAINTAINED as data arrives. Day-partition stats
  (rows, dead rows under the user_id % 10 deletion predicate, event-
  time bounds) ride a streaming aggregation (complete mode — counts
  and min/max are mergeable, one state row per day) and feed the
  same vacuum decision q423 makes; the streamed state is audited
  row-for-row against the batch recompute via the q81/q83/q414
  full-outer batch-equivalence contract.
- q425 blockwise ridge probe: q363's exact path made hash-green. The
  SAME kernel call q363 makes (operators/similarity.py
  gram_matrix_quantized in label mode) feeds 32 independent 2x2
  ridge solves (dims 2k-1, 2k; lambda = 1), each solved in CLOSED
  FORM by Cramer's rule on exact integers — adjugate products,
  common-factor reduction, and one sign-correct floor division to
  micro weights. The in-sample SSE and uncentered R^2 of the
  REPORTED (micro-rounded) weights are then exact integer
  expressions of the same sufficient statistics — no second data
  pass, no float accumulation anywhere. The DuckDB oracle recomputes
  everything from row grain through a DIFFERENT formulation
  (per-vector block pivot, not the kernel's matrix accumulation), so
  the hash row certifies quantization, statistics, solve, and fit
  arithmetic end-to-end.
- q426 blockwise decorrelation: q373's transform-then-reverify shape
  made hash-green. Per block, beta = cov(a,b)/var(a) comes from
  exact integer covariance stats (one closed-form floor division to
  nano units); the Gram-Schmidt transform z_b = x_b - beta*x_a is
  applied DISTRIBUTED (pure JVM: an in-row block explode, no Python
  in the path) and the transformed per-block covariance is
  recomputed from quantized z components — near zero by
  construction, but reported as the exact integers both engines
  agree on. Every float step (beta_nano/1e9, the multiply-subtract,
  floor(z*1e7)) is a correctly-rounded IEEE-754 operation evaluated
  with the identical expression tree on both engines, so the match
  is exact, not tolerance-based.

Reference scope note: the reference pipeline (usnvc/usnvc.py) has no
numeric-probe tooling — this family belongs to the mandated
LLM-pipeline extension surface (embedding diagnostics: q169/q173/
q362/q364 are its prior members).

Integer-unit bookkeeping (quant = 1e7, the suite-wide discipline):
gram cells carry 1e14 per real unit, X^T y cells 1e7, covariance
numerators n^2*1e14. All divisions are the q364 sign-correct
floor-div idiom (shift positive, strip the remainder, divide
exactly, unshift) so Spark's `div`-on-DECIMAL and DuckDB's
`//`-on-HUGEINT produce the same integer for NEGATIVE numerators
too. Magnitude headroom is documented per division; the BINDING
envelope is the driver-facing BIGINT stats columns (sum-of-q^2 <=
9.22e18 -> ~9e4 unit-magnitude vectors, ~3e5 at E[x^2]=0.3 — proved
by the envelope-boundary test, which found the g_aa output cast, not
the solve, fails first on both engines); the q362 caveat applies
beyond it: larger corpora reduce quant (the driver SFs carry
500/2000 vectors).

Scale shape: q425 is the kernel's map-side d^2-per-partition
accumulation plus a 32-row solve — no row-grain shuffle beyond the
kernel's bounded cell stream. q426 pays two row-grain map-side
explodes (32 in-row structs each) and two 32-group aggregations with
map-side partial combine; the only broadcast is the 32-row beta
frame. q424 keeps one state row per day.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pipeline_usnvc_spark.plans.registry import _d38, query
from pipeline_usnvc_spark.sources.tables import load_table

_Q = 10_000_000  # component quantization (floor(x * 1e7)), suite-wide
_LAMBDA_Q2 = 10**14  # ridge lambda = 1.0 expressed in q^2 gram units
_R_REDUCE = 10**14  # common-factor reduction of (num, det) before the solve div
_VACUUM_DEAD_MICRO = 100_000  # vacuum a partition at >= 10% dead rows


def _dlit(x: int) -> Column:
    """Integer literal beyond Long range as DECIMAL(38,0) —
    F.lit(10**20) overflows py4j's long marshalling."""
    return F.expr(f"CAST({x} AS DECIMAL(38,0))")


def _sfdiv(num: Column, den: Column, shift: int) -> Column:
    """Sign-correct exact floor division num // den (den > 0) as
    DECIMAL(38,0): shift the numerator positive by `shift` multiples
    of the denominator, strip the remainder with pmod, divide (exact
    — the remainder is gone), unshift. Identical to the DuckDB text
    from _sfdiv_sql, so negative numerators floor the same way on
    both engines (Spark `div` truncates toward zero, DuckDB `//`
    floors — they disagree on negatives without this). `shift` must
    exceed |num|/den; each call site documents its bound."""
    shifted = (_d38(num) + _d38(F.lit(shift)) * _d38(den)).cast("decimal(38,0)")
    return (
        ((shifted - F.pmod(shifted, _d38(den))) / _d38(den)).cast("decimal(38,0)")
        - F.lit(shift)
    ).cast("decimal(38,0)")


def _sfdiv_sql(num: str, den: str, shift: int) -> str:
    """The DuckDB half of _sfdiv — the same shift/strip/divide text
    over HUGEINT."""
    # CAST the shift to HUGEINT up front: DuckDB multiplies two INT64
    # literals in INT64 and overflows before any HUGEINT promotion
    s = f"({num}) + CAST({shift} AS HUGEINT) * ({den})"
    return f"((({s}) - (({s}) % ({den}))) // ({den}) - {shift})"


# ---------------------------------------------------------------------------
# q424 — streaming deletion-staleness maintenance (rows-only:
# stateful streaming): the incremental side of q423's deletion-aware
# advisor, built the way q414 twins q411. Day-partition liveness
# stats are maintained by a streaming aggregation over the event
# arrival stream and feed the vacuum decision (dead-fraction
# threshold per partition plus the table-level rollup); the streamed
# state is audited row-for-row against the batch recompute — a
# missing day, a phantom day, or any stat divergence EXISTS as an
# audit row and the executed in-plan contract evaluates on it.
# OUTPUT-MODE DECISION (VERDICT r11 item 3): q424 keeps COMPLETE
# mode deliberately — at day grain the full state is one row per day
# and re-emitting it is cheaper than a downstream merge. The
# production shape at fine partition grain (emission cost grows with
# total state) is UPDATE mode + downstream last-write-wins merge;
# that path is q432 (round12_queries), which exercises genuine
# multi-batch re-emission and carries the same full-outer
# batch-equivalence contract.
# ---------------------------------------------------------------------------
def day_liveness(ev: DataFrame) -> DataFrame:
    """Day-partition liveness stats (shared by q424 complete-mode and
    q432 update-mode): the deletion predicate mirrors q423's
    synthetic delete set (key % 10 == 0); min/max/count/sum are all
    mergeable, so streaming state is one row per day partition."""
    return ev.groupBy(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("zone_day")
    ).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("user_id") % 10 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dead"),
        F.min(F.unix_micros("ts")).cast("bigint").alias("min_t"),
        F.max(F.unix_micros("ts")).cast("bigint").alias("max_t"),
    )


@query("q424_streaming_staleness_maintenance")
def q424_streaming_staleness_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pipeline_usnvc_spark.operators.contracts import contract_filter
    from pipeline_usnvc_spark.streaming.pipeline import (
        read_event_stream,
        run_stream_to_memory,
    )

    streamed = run_stream_to_memory(
        day_liveness(read_event_stream(spark, sf_dir)),
        "q424_staleness_stream",
        output_mode="complete",
    )
    batch = day_liveness(
        load_table(spark, sf_dir, "events").select("user_id", "ts")
    ).select(
        F.col("zone_day").alias("b_day"),
        F.col("n_rows").alias("b_n"),
        F.col("n_dead").alias("b_dead"),
        F.col("min_t").alias("b_min_t"),
        F.col("max_t").alias("b_max_t"),
    )
    audit = streamed.join(
        batch, streamed["zone_day"] == batch["b_day"], "full_outer"
    )
    ok = (
        F.col("zone_day").isNotNull()
        & F.col("b_day").isNotNull()
        & (F.col("n_rows") == F.col("b_n"))
        & (F.col("n_dead") == F.col("b_dead"))
        & (F.col("min_t") == F.col("b_min_t"))
        & (F.col("max_t") == F.col("b_max_t"))
    )
    checked = contract_filter(
        audit,
        ok,
        F.concat(
            F.lit("staleness maintenance divergence for day "),
            F.coalesce(F.col("zone_day"), F.col("b_day")),
        ),
    ).select("zone_day", "n_rows", "n_dead", "min_t", "max_t")
    # the q423 decision, fed from the MAINTAINED stats: per-partition
    # vacuum recommendation plus the table-level dead fraction
    table = checked.agg(
        F.expr("(1000000 * sum(n_dead)) div sum(n_rows)")
        .cast("bigint")
        .alias("table_dead_fraction_micro")
    )
    return (
        checked.crossJoin(F.broadcast(table))
        .select(
            "zone_day",
            "n_rows",
            "n_dead",
            F.expr("(1000000 * n_dead) div n_rows")
            .cast("bigint")
            .alias("dead_fraction_micro"),
            (
                F.expr("(1000000 * n_dead) div n_rows")
                >= F.lit(_VACUUM_DEAD_MICRO)
            ).alias("recommend_vacuum"),
            "table_dead_fraction_micro",
            "min_t",
            "max_t",
        )
        .orderBy("zone_day")
    )


# Shared oracle scaffolding: quantized components with the block id
# (dims 2k-1 / 2k -> block k) pivoted to one row per (vector, block).
_ORACLE_PAIRS = """
    comps AS (
        SELECT vec_id, dim,
               CAST(floor(CAST(x AS DOUBLE) * 10000000) AS BIGINT) AS q,
               CAST(x AS DOUBLE) AS xd, y
        FROM (
            SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS dim,
                   CAST(label AS BIGINT) AS y
            FROM embeddings
        )
    ),
    pairs AS (
        SELECT vec_id, (dim + 1) // 2 AS blk,
               max(CASE WHEN dim % 2 = 1 THEN q END) AS qa,
               max(CASE WHEN dim % 2 = 0 THEN q END) AS qb,
               max(CASE WHEN dim % 2 = 1 THEN xd END) AS xa,
               max(CASE WHEN dim % 2 = 0 THEN xd END) AS xb,
               max(y) AS y
        FROM comps GROUP BY 1, 2
    )
"""


def _q425_oracle() -> str:
    lam = _LAMBDA_Q2
    red = _R_REDUCE
    # magnitude bounds at quant=1e7, |label| <= 9, g = sum q^2 <=
    # 9.22e18 (the BIGINT g_aa/g_bb output columns are the BINDING
    # envelope — ~9e4 unit-magnitude vectors; the envelope-boundary
    # test runs the maximal corpus end-to-end): b <= 8.3e12,
    # num = A*b <= 1.6e32; after div 1e14: numr <= 1.6e18. The
    # determinant is formed from cells PRE-REDUCED by 1e4
    # (gr = g div 1e4, lam_hat = 1e10) as headroom: the raw
    # (gaa+lam)*(gbb+lam) product sits ~8.5e37 at the envelope —
    # within DuckDB's HUGEINT (1.7e38) but only ~15% under Spark's
    # DECIMAL(38,0) ceiling (~9.99e37), and the two ceilings differ,
    # so a one-sided overflow would desync the engines the moment the
    # envelope moves (round-11 review finding). det_hat <=
    # (1e15+1e10)^2 ~ 1e30 fits BOTH with 8 digits of headroom;
    # det_hat >= lam_hat^2 = 1e20 -> detr >= 1e14 > 0.
    # The reduction's relative error (<= ~2e-6 when g ~ lam,
    # ~1e-8 at this data's g) lands below the micro quantization of
    # the reported weights. |w_micro| <= sqrt(yy)/2 * 1e6 by
    # Cauchy-Schwarz (< 1e9 here), so shift 1e11 covers the solve
    # div. Inner numerator reduction: |num| <= ~8e31 at the envelope
    # (g ~ 9.22e18, |b| ~ 8.6e12), so the shift must exceed
    # |num|/den = 8e17 — shift 9e18 gives >11x headroom (the prior
    # 1e18 had only ~1.25x, ADVICE r11; 1e19 would overflow py4j's
    # long literal marshalling, see _dlit); shifted max ~9e18*1e14 =
    # 9e32, 5 digits under both DECIMAL(38,0) and HUGEINT ceilings.
    # The remaining shifts are each a >=10x guard over their bound.
    numa = f"(gbb + {lam}) * ba - gab * bb"
    numb = f"(gaa + {lam}) * bb - gab * ba"
    grab = _sfdiv_sql("gab", "10000", 10**16)  # gab may be negative
    det_hat = (
        f"(gaa // 10000 + 10000000000) * (gbb // 10000 + 10000000000)"
        f" - ({grab}) * ({grab})"
    )
    detr = f"greatest(({det_hat}) // 1000000, 1)"
    wa = _sfdiv_sql(
        f"{_sfdiv_sql(numa, str(red), 9 * 10**18)} * 10000000000000",
        detr,
        10**11,
    )
    wb = _sfdiv_sql(
        f"{_sfdiv_sql(numb, str(red), 9 * 10**18)} * 10000000000000",
        detr,
        10**11,
    )
    cross = _sfdiv_sql("2 * (w_a_micro * ba + w_b_micro * bb)", "10000000", 10**16)
    quad = _sfdiv_sql(
        "w_a_micro * w_a_micro * gaa + 2 * w_a_micro * w_b_micro * gab"
        " + w_b_micro * w_b_micro * gbb",
        "100000000000000000000",
        10**14,
    )
    r2pen = _sfdiv_sql("sse_micro", "yy", 10**7)
    return f"""
    WITH {_ORACLE_PAIRS},
    stats AS (
        SELECT blk,
               CAST(sum(CAST(qa AS HUGEINT) * qa) AS HUGEINT) AS gaa,
               CAST(sum(CAST(qa AS HUGEINT) * qb) AS HUGEINT) AS gab,
               CAST(sum(CAST(qb AS HUGEINT) * qb) AS HUGEINT) AS gbb,
               CAST(sum(CAST(qa AS HUGEINT) * y) AS HUGEINT) AS ba,
               CAST(sum(CAST(qb AS HUGEINT) * y) AS HUGEINT) AS bb
        FROM pairs GROUP BY blk
    ),
    moms AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(CAST(label AS HUGEINT) * label) AS HUGEINT) AS yy
        FROM embeddings
    ),
    solved AS (
        SELECT blk, gaa, gab, gbb, ba, bb, n, yy,
               CAST({wa} AS HUGEINT) AS w_a_micro,
               CAST({wb} AS HUGEINT) AS w_b_micro
        FROM stats CROSS JOIN moms
    ),
    fitted AS (
        SELECT *,
               CAST(yy * 1000000 - ({cross}) + ({quad}) AS HUGEINT) AS sse_micro
        FROM solved
    )
    SELECT CAST(blk AS BIGINT) AS blk,
           CAST(2 * blk - 1 AS BIGINT) AS dim_a,
           CAST(2 * blk AS BIGINT) AS dim_b,
           CAST(n AS BIGINT) AS n_vectors,
           CAST(gaa AS BIGINT) AS g_aa, CAST(gab AS BIGINT) AS g_ab,
           CAST(gbb AS BIGINT) AS g_bb,
           CAST(ba AS BIGINT) AS b_a, CAST(bb AS BIGINT) AS b_b,
           CAST(w_a_micro AS BIGINT) AS w_a_micro,
           CAST(w_b_micro AS BIGINT) AS w_b_micro,
           CAST(w_a_micro AS DOUBLE) / 1000000.0 AS w_a,
           CAST(w_b_micro AS DOUBLE) / 1000000.0 AS w_b,
           CAST(sse_micro AS BIGINT) AS sse_micro,
           CAST(1000000 - ({r2pen}) AS BIGINT) AS r2u_micro
    FROM fitted
    ORDER BY blk
    """


# ---------------------------------------------------------------------------
# q425 — blockwise ridge probe (q363's numeric path, hash-green):
# 32 independent 2x2 ridge solves (dims 2k-1/2k vs the label,
# lambda = 1) via Cramer's rule on the EXACT integer sufficient
# statistics from the same kernel call q363 makes. The reported
# weights are micro-quantized by one sign-correct floor division;
# SSE and uncentered R^2 are then exact integer functionals OF THE
# REPORTED WEIGHTS (sse = yy - 2*w^T b + w^T G w evaluated at
# w_micro), so both engines agree bit-for-bit — no tolerance, no
# float accumulation, no second data pass.
# ---------------------------------------------------------------------------
@query("q425_block_ridge_probe", oracle=_q425_oracle())
def q425_block_ridge_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.checkpoint import materialize
    from pipeline_usnvc_spark.operators.similarity import gram_matrix_quantized

    emb = load_table(spark, sf_dir, "embeddings").select("embedding", "label")
    # q363's exact stats path: gram cells at (i, j), X^T y at (i, -1),
    # label moments at (-2,-2)/(-3,-3). The cell frame is bounded
    # (d(d+1)/2 + d + 3 rows) and feeds FOUR consumers below —
    # materialize so the kernel pass runs once, not four times.
    cells = materialize(gram_matrix_quantized(emb, label_col="label"))
    blk_i = F.expr("(dim_i + 1) div 2")
    gram = (
        cells.filter(
            (F.col("dim_i") > 0)
            & (F.col("dim_j") > 0)
            & (F.expr("(dim_i + 1) div 2") == F.expr("(dim_j + 1) div 2"))
        )
        .groupBy(blk_i.cast("bigint").alias("blk"))
        .agg(
            F.max(
                F.when(
                    (F.col("dim_i") == F.col("dim_j")) & (F.col("dim_i") % 2 == 1),
                    F.col("sxy"),
                )
            ).alias("gaa"),
            F.max(F.when(F.col("dim_i") != F.col("dim_j"), F.col("sxy"))).alias("gab"),
            F.max(
                F.when(
                    (F.col("dim_i") == F.col("dim_j")) & (F.col("dim_i") % 2 == 0),
                    F.col("sxy"),
                )
            ).alias("gbb"),
        )
    )
    bvec = (
        cells.filter((F.col("dim_i") > 0) & (F.col("dim_j") == -1))
        .groupBy(F.expr("(dim_i + 1) div 2").cast("bigint").alias("blk"))
        .agg(
            F.max(F.when(F.col("dim_i") % 2 == 1, F.col("sxy"))).alias("ba"),
            F.max(F.when(F.col("dim_i") % 2 == 0, F.col("sxy"))).alias("bb"),
        )
    )
    yy = cells.filter(F.col("dim_i") == -2).select(F.col("sxy").alias("yy"))
    n = cells.filter(F.col("dim_i") == -3).select(F.col("sxy").alias("n"))
    j = (
        gram.join(bvec, "blk")
        .crossJoin(F.broadcast(yy))
        .crossJoin(F.broadcast(n))
    )
    lam = _d38(F.lit(_LAMBDA_Q2))
    num_a = (_d38(F.col("gbb")) + lam) * _d38(F.col("ba")) - _d38(
        F.col("gab")
    ) * _d38(F.col("bb"))
    num_b = (_d38(F.col("gaa")) + lam) * _d38(F.col("bb")) - _d38(
        F.col("gab")
    ) * _d38(F.col("ba"))
    # determinant from PRE-REDUCED cells (g div 1e4, lam_hat = 1e10):
    # the raw (gaa+lam)*(gbb+lam) product clears DuckDB's HUGEINT but
    # overflows Spark's DECIMAL(38,0) at the documented n~1e5
    # envelope, and a one-sided overflow null would silently desync
    # the engines (round-11 review finding). det_hat <= ~1e30 fits
    # both; det_hat >= lam_hat^2 = 1e20 so detr >= 1e14 > 0
    # (greatest() is a belt-and-suspenders identical on both engines).
    lam_hat = _d38(F.lit(10**10))
    graa = F.expr("CAST(gaa AS DECIMAL(38,0)) div 10000").cast("decimal(38,0)")
    grbb = F.expr("CAST(gbb AS DECIMAL(38,0)) div 10000").cast("decimal(38,0)")
    grab = _sfdiv(F.col("gab"), _d38(F.lit(10**4)), 10**16)  # signed
    det_hat = (graa + lam_hat) * (grbb + lam_hat) - grab * grab
    detr = F.greatest(
        _sfdiv(det_hat, _d38(F.lit(10**6)), 1),  # det_hat > 0: plain reduce
        _d38(F.lit(1)),
    )
    solved = j.select(
        "blk",
        "gaa",
        "gab",
        "gbb",
        "ba",
        "bb",
        "yy",
        "n",
        # inner shift 9e18: >11x guard over |num|/den ~ 8e17 at the
        # envelope (was 1e18 = ~1.25x, ADVICE r11); see _q425_oracle
        _sfdiv(
            _sfdiv(num_a, _d38(F.lit(_R_REDUCE)), 9 * 10**18) * _d38(F.lit(10**13)),
            detr,
            10**11,
        ).alias("w_a_micro"),
        _sfdiv(
            _sfdiv(num_b, _d38(F.lit(_R_REDUCE)), 9 * 10**18) * _d38(F.lit(10**13)),
            detr,
            10**11,
        ).alias("w_b_micro"),
    )
    cross = _sfdiv(
        _d38(F.lit(2))
        * (
            _d38(F.col("w_a_micro")) * _d38(F.col("ba"))
            + _d38(F.col("w_b_micro")) * _d38(F.col("bb"))
        ),
        _d38(F.lit(_Q)),
        10**16,
    )
    quad = _sfdiv(
        _d38(F.col("w_a_micro")) * _d38(F.col("w_a_micro")) * _d38(F.col("gaa"))
        + _d38(F.lit(2))
        * _d38(F.col("w_a_micro"))
        * _d38(F.col("w_b_micro"))
        * _d38(F.col("gab"))
        + _d38(F.col("w_b_micro")) * _d38(F.col("w_b_micro")) * _d38(F.col("gbb")),
        _dlit(10**20),
        10**14,
    )
    fitted = solved.withColumn(
        "sse_micro",
        (_d38(F.col("yy")) * _d38(F.lit(10**6)) - cross + quad).cast(
            "decimal(38,0)"
        ),
    )
    return fitted.select(
        F.col("blk").cast("bigint").alias("blk"),
        (F.lit(2) * F.col("blk") - 1).cast("bigint").alias("dim_a"),
        (F.lit(2) * F.col("blk")).cast("bigint").alias("dim_b"),
        F.col("n").cast("bigint").alias("n_vectors"),
        F.col("gaa").cast("bigint").alias("g_aa"),
        F.col("gab").cast("bigint").alias("g_ab"),
        F.col("gbb").cast("bigint").alias("g_bb"),
        F.col("ba").cast("bigint").alias("b_a"),
        F.col("bb").cast("bigint").alias("b_b"),
        F.col("w_a_micro").cast("bigint").alias("w_a_micro"),
        F.col("w_b_micro").cast("bigint").alias("w_b_micro"),
        (F.col("w_a_micro").cast("double") / F.lit(1000000.0)).alias("w_a"),
        (F.col("w_b_micro").cast("double") / F.lit(1000000.0)).alias("w_b"),
        F.col("sse_micro").cast("bigint").alias("sse_micro"),
        (
            F.lit(10**6).cast("decimal(38,0)")
            - _sfdiv(F.col("sse_micro"), F.col("yy"), 10**7)
        )
        .cast("bigint")
        .alias("r2u_micro"),
    ).orderBy("blk")


def _q426_oracle() -> str:
    # beta_nano: |cov_ab * 1e9| <= n*g*1e9 <= 1e19*1e5*1e9... reduced
    # below; with n <= 1e5: cov <= n^2*1e14 = 1e24, *1e9 = 1e33,
    # shift 1e13 * var_aa <= 1e13*1e24 = 1e37 — inside HUGEINT.
    # SHIFT SUFFICIENCY (ADVICE r11): the floor-shift idiom also needs
    # shift*den > |num|, i.e. 1e13*caa > |cab|*1e9 -> |beta| < 1e4. A
    # near-constant dim a (tiny caa) against a high-variance
    # correlated b would break it — the Spark side asserts the
    # envelope as an executed in-plan contract (|cab| < caa_eff*1e4),
    # so a violating corpus fails LOUDLY on the engine half instead of
    # silently desyncing beta_nano (DuckDB-trunc vs Spark-floor).
    beta = _sfdiv_sql("cab * 1000000000", "greatest(caa, 1)", 10**13)
    cov_micro = lambda num, n: _sfdiv_sql(  # noqa: E731
        f"({num}) * 1000000", f"({n}) * ({n}) * 100000000000000", 10**7
    )
    return f"""
    WITH {_ORACLE_PAIRS},
    raw AS (
        SELECT blk,
               CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(qa) AS HUGEINT) AS sa,
               CAST(sum(qb) AS HUGEINT) AS sb,
               CAST(sum(CAST(qa AS HUGEINT) * qa) AS HUGEINT) AS gaa,
               CAST(sum(CAST(qa AS HUGEINT) * qb) AS HUGEINT) AS gab,
               CAST(sum(CAST(qb AS HUGEINT) * qb) AS HUGEINT) AS gbb
        FROM pairs GROUP BY blk
    ),
    betas AS (
        SELECT blk, n,
               n * gab - sa * sb AS cab,
               n * gaa - sa * sa AS caa,
               n * gbb - sb * sb AS cbb
        FROM raw
    ),
    solved AS (
        SELECT blk, n, cab, caa, cbb,
               CAST({beta} AS HUGEINT) AS beta_nano
        FROM betas
    ),
    dec AS (
        SELECT p.blk,
               CAST(floor(p.xa * 10000000) AS BIGINT) AS qza,
               CAST(floor((p.xb - (CAST(s.beta_nano AS DOUBLE) / 1000000000.0)
                                   * p.xa) * 10000000) AS BIGINT) AS qzb
        FROM pairs p JOIN solved s ON s.blk = p.blk
    ),
    dstats AS (
        SELECT blk,
               CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(qza) AS HUGEINT) AS sza,
               CAST(sum(qzb) AS HUGEINT) AS szb,
               CAST(sum(CAST(qza AS HUGEINT) * qzb) AS HUGEINT) AS gzab,
               CAST(sum(CAST(qzb AS HUGEINT) * qzb) AS HUGEINT) AS gzbb
        FROM dec GROUP BY blk
    )
    SELECT CAST(s.blk AS BIGINT) AS blk,
           CAST(2 * s.blk - 1 AS BIGINT) AS dim_a,
           CAST(2 * s.blk AS BIGINT) AS dim_b,
           CAST(s.n AS BIGINT) AS n_vectors,
           CAST(s.beta_nano AS BIGINT) AS beta_nano,
           CAST(s.beta_nano AS DOUBLE) / 1000000000.0 AS beta,
           CAST({cov_micro('s.cab', 's.n')} AS BIGINT) AS cov_raw_micro,
           CAST({cov_micro('s.cbb', 's.n')} AS BIGINT) AS var_b_raw_micro,
           CAST({cov_micro('d.n * d.gzab - d.sza * d.szb', 'd.n')} AS BIGINT)
               AS cov_dec_micro,
           CAST({cov_micro('d.n * d.gzbb - d.szb * d.szb', 'd.n')} AS BIGINT)
               AS var_b_dec_micro
    FROM solved s JOIN dstats d ON d.blk = s.blk
    ORDER BY blk
    """


# ---------------------------------------------------------------------------
# q426 — blockwise Gram-Schmidt decorrelation (q373's
# transform-then-reverify shape, hash-green): per block, fit
# beta = cov(a,b)/var(a) from exact integer covariance statistics,
# apply z_b = x_b - beta*x_a DISTRIBUTED (in-row block explode —
# pure JVM, no Python), and recompute the transformed covariance
# from quantized z components. cov_dec is ~0 by construction; it is
# reported as the exact integer both engines compute, so the hash
# row certifies fit, broadcast-back, transform, and re-aggregation
# end-to-end. Every float step (beta_nano/1e9, multiply-subtract,
# floor(z*1e7)) is one correctly-rounded IEEE op with the identical
# expression tree on both engines — exact match, no tolerance.
# ---------------------------------------------------------------------------
@query("q426_block_decorrelate", oracle=_q426_oracle())
def q426_block_decorrelate(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    # in-row block explode: zero shuffle to reach (vec, blk, xa, xb)
    pairs = emb.select(
        F.explode(
            F.expr(
                "transform(sequence(1, CAST(size(embedding) / 2 AS INT)),"
                " k -> struct(CAST(k AS BIGINT) AS blk,"
                " CAST(element_at(embedding, 2*k - 1) AS DOUBLE) AS xa,"
                " CAST(element_at(embedding, 2*k) AS DOUBLE) AS xb))"
            )
        ).alias("p")
    ).select("p.blk", "p.xa", "p.xb")
    qa = F.floor(F.col("xa") * F.lit(float(_Q))).cast("bigint")
    qb = F.floor(F.col("xb") * F.lit(float(_Q))).cast("bigint")
    raw = pairs.groupBy("blk").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(_d38(qa)).cast("decimal(38,0)").alias("sa"),
        F.sum(_d38(qb)).cast("decimal(38,0)").alias("sb"),
        F.sum(_d38(qa) * _d38(qa)).cast("decimal(38,0)").alias("gaa"),
        F.sum(_d38(qa) * _d38(qb)).cast("decimal(38,0)").alias("gab"),
        F.sum(_d38(qb) * _d38(qb)).cast("decimal(38,0)").alias("gbb"),
    )
    cab = (_d38(F.col("n")) * _d38(F.col("gab")) - _d38(F.col("sa")) * _d38(F.col("sb"))).alias("cab")
    caa = (_d38(F.col("n")) * _d38(F.col("gaa")) - _d38(F.col("sa")) * _d38(F.col("sa"))).alias("caa")
    cbb = (_d38(F.col("n")) * _d38(F.col("gbb")) - _d38(F.col("sb")) * _d38(F.col("sb"))).alias("cbb")
    from pipeline_usnvc_spark.operators.checkpoint import materialize

    from pipeline_usnvc_spark.operators.contracts import contract_filter

    # 32-row fit frame with two consumers (the broadcast-back beta
    # join and the final output join): materialize so the fit
    # aggregation pass runs once. The contract asserts the beta-shift
    # envelope (ADVICE r11): _sfdiv's shift 1e13 over den =
    # greatest(caa, 1) is only sufficient when 1e13*caa > |cab|*1e9,
    # i.e. |beta| < 1e4 — violated by a near-constant dim a paired
    # with a high-variance correlated b. Executed at materialize time,
    # so a violating corpus fails loudly instead of desyncing
    # beta_nano against the oracle (DuckDB-trunc vs Spark-floor).
    fit = raw.select(
        "blk",
        "n",
        cab,
        caa,
        cbb,
    )
    fit = contract_filter(
        fit,
        F.abs(F.col("cab"))
        < F.greatest(F.col("caa"), _d38(F.lit(1))) * _d38(F.lit(10**4)),
        F.concat(
            F.lit("q426 beta envelope |beta| < 1e4 violated at blk "),
            F.col("blk").cast("string"),
            F.lit(": cab="),
            F.col("cab").cast("string"),
            F.lit(" caa="),
            F.col("caa").cast("string"),
        ),
    )
    solved = materialize(
        fit.withColumn(
            "beta_nano",
            _sfdiv(
                F.col("cab") * _d38(F.lit(10**9)),
                F.greatest(F.col("caa"), _d38(F.lit(1))),
                10**13,
            ),
        )
    )
    # broadcast the 32-row beta frame back and transform distributed
    betas = F.broadcast(
        solved.select(
            "blk",
            (F.col("beta_nano").cast("double") / F.lit(1000000000.0)).alias("beta"),
        )
    )
    dec = pairs.join(betas, "blk").select(
        "blk",
        F.floor(F.col("xa") * F.lit(float(_Q))).cast("bigint").alias("qza"),
        F.floor(
            (F.col("xb") - F.col("beta") * F.col("xa")) * F.lit(float(_Q))
        )
        .cast("bigint")
        .alias("qzb"),
    )
    dstats = dec.groupBy("blk").agg(
        F.count("*").cast("decimal(38,0)").alias("dn"),
        F.sum(_d38(F.col("qza"))).cast("decimal(38,0)").alias("sza"),
        F.sum(_d38(F.col("qzb"))).cast("decimal(38,0)").alias("szb"),
        F.sum(_d38(F.col("qza")) * _d38(F.col("qzb")))
        .cast("decimal(38,0)")
        .alias("gzab"),
        F.sum(_d38(F.col("qzb")) * _d38(F.col("qzb")))
        .cast("decimal(38,0)")
        .alias("gzbb"),
    )

    def cov_micro(num: Column, n: Column) -> Column:
        return _sfdiv(
            num * _d38(F.lit(10**6)),
            (_d38(n) * _d38(n) * _d38(F.lit(_LAMBDA_Q2))).cast("decimal(38,0)"),
            10**7,
        )

    out = solved.join(dstats, "blk")
    return out.select(
        F.col("blk").cast("bigint").alias("blk"),
        (F.lit(2) * F.col("blk") - 1).cast("bigint").alias("dim_a"),
        (F.lit(2) * F.col("blk")).cast("bigint").alias("dim_b"),
        F.col("n").cast("bigint").alias("n_vectors"),
        F.col("beta_nano").cast("bigint").alias("beta_nano"),
        (F.col("beta_nano").cast("double") / F.lit(1000000000.0)).alias("beta"),
        cov_micro(F.col("cab"), F.col("n")).cast("bigint").alias("cov_raw_micro"),
        cov_micro(F.col("cbb"), F.col("n")).cast("bigint").alias("var_b_raw_micro"),
        cov_micro(
            _d38(F.col("dn")) * _d38(F.col("gzab"))
            - _d38(F.col("sza")) * _d38(F.col("szb")),
            F.col("dn"),
        )
        .cast("bigint")
        .alias("cov_dec_micro"),
        cov_micro(
            _d38(F.col("dn")) * _d38(F.col("gzbb"))
            - _d38(F.col("szb")) * _d38(F.col("szb")),
            F.col("dn"),
        )
        .cast("bigint")
        .alias("var_b_dec_micro"),
    ).orderBy("blk")


# Shared ledger scaffolding for q427/q428 (VERDICT r10 item 8: the
# incremental/transactional-maintenance composition over
# q93/q249/q412/q422). The documents table carries no natural exact
# duplicates, so the ledger input PLANTS copies (the q174/q346
# pattern): every doc_id % 7 == 0 doc gets one copy at id
# 2*max - doc_id + 1 and every doc_id % 21 == 0 doc a second at
# 3*max + 2 + doc_id — offsets chosen so copies land in DIFFERENT
# arrival batches than their originals (the %4 batch of 2*max-d+1
# varies with d), which is what makes MERGE re-pointing and
# snapshot diffs non-trivial. Batches are doc_id % 4, applied in
# order 0..3 — four MERGE commits into a fingerprint-keyed dedup
# ledger whose update rule is "canonical = least(current, incoming)".
_LEDGER_SQL = """
    base AS (SELECT doc_id, text FROM documents),
    mx AS (SELECT max(doc_id) AS mx FROM base),
    ledger AS (
        SELECT doc_id, text FROM base
        UNION ALL
        SELECT 2 * mx.mx - doc_id + 1, text FROM base CROSS JOIN mx
        WHERE doc_id % 7 = 0
        UNION ALL
        SELECT 3 * mx.mx + 2 + doc_id, text FROM base CROSS JOIN mx
        WHERE doc_id % 21 = 0
    ),
    oplog AS (
        SELECT doc_id, doc_id % 4 AS batch,
               md5(coalesce(array_to_string({toks}, ' '), '')) AS fp
        FROM ledger
    ),
    per_key AS (
        SELECT fp, min(batch) AS first_batch, min(doc_id) AS canonical,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM oplog GROUP BY fp
    )
"""


def _ledger_oplog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.functions.text import doc_fingerprint

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mx = F.broadcast(base.agg(F.max("doc_id").alias("mx")))
    copies1 = (
        base.filter(F.col("doc_id") % 7 == 0)
        .crossJoin(mx)
        .select(
            (F.lit(2) * F.col("mx") - F.col("doc_id") + 1).alias("doc_id"), "text"
        )
    )
    copies2 = (
        base.filter(F.col("doc_id") % 21 == 0)
        .crossJoin(mx)
        .select(
            (F.lit(3) * F.col("mx") + 2 + F.col("doc_id")).alias("doc_id"), "text"
        )
    )
    return (
        base.unionByName(copies1)
        .unionByName(copies2)
        .select(
            "doc_id",
            (F.col("doc_id") % 4).alias("batch"),
            doc_fingerprint("text").alias("fp"),
        )
    )


def _q427_oracle() -> str:
    from pipeline_usnvc_spark.functions.text import TOKENIZE_SQL

    return f"""
    WITH {_LEDGER_SQL.format(toks=TOKENIZE_SQL)},
    ops AS (
        SELECT o.batch,
               CAST(count(DISTINCT o.fp) AS BIGINT) AS n_ops,
               CAST(count(DISTINCT CASE WHEN o.batch = k.first_batch
                                        THEN o.fp END) AS BIGINT) AS n_inserts,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM oplog o JOIN per_key k USING (fp)
        GROUP BY o.batch
    ),
    keys_by_first AS (
        SELECT first_batch, CAST(count(*) AS BIGINT) AS new_keys
        FROM per_key GROUP BY first_batch
    ),
    summary AS (
        SELECT CAST(sum(n_ops) AS BIGINT) AS log_rows_total FROM ops
    ),
    snap AS (SELECT CAST(count(*) AS BIGINT) AS snapshot_rows FROM per_key)
    SELECT o.batch, o.n_docs, o.n_ops, o.n_inserts,
           o.n_ops - o.n_inserts AS n_dup_ops,
           CAST(sum(coalesce(kf.new_keys, 0))
                    OVER (ORDER BY o.batch) AS BIGINT) AS cum_keys,
           s.log_rows_total, p.snapshot_rows,
           CAST((1000000 * (s.log_rows_total - p.snapshot_rows))
                // s.log_rows_total AS BIGINT) AS reclaim_micro
    FROM ops o
    LEFT JOIN keys_by_first kf ON kf.first_batch = o.batch
    CROSS JOIN summary s CROSS JOIN snap p
    ORDER BY o.batch
    """


# ---------------------------------------------------------------------------
# q427 — MERGE-ledger compaction audit: four batch commits into a
# fingerprint-keyed dedup ledger (insert on first sight, dup-op
# otherwise), then the compaction summary a maintenance scheduler
# reads — per-batch op/insert/dup counts, cumulative key count, and
# the log-to-snapshot reclaim fraction (how much the MERGE log
# shrinks when folded to its final state). Composes q50's
# fingerprint grouping, q93's MERGE semantics, and q412's
# compaction-planning shape. Scale: fingerprint grain rides 16-byte
# digests (never raw text); the only non-key-grain exchange is the
# fp groupBy; batch grain is 4 rows, so the cumulative window is
# spine-bounded, not data-bounded.
# ---------------------------------------------------------------------------
@query("q427_merge_ledger_compaction", oracle=_q427_oracle())
def q427_merge_ledger_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.checkpoint import materialize

    # Materialized (r13): the oplog (tokenize + md5 fingerprint over
    # the full text) feeds BOTH the per_key fold and the ops join, and
    # the runtime scan audit showed the fingerprint map pass executing
    # once per consumer. The frame is (doc_id, batch, fp) — 32 B/row,
    # the dedup-ledger slim grain. Materialize HERE, not inside
    # compaction_summary: q431 feeds the same fold from a
    # fingerprint-BUCKETED table, and a checkpoint there would erase
    # the bucket partitioning its zero-exchange plan depends on.
    return compaction_summary(materialize(_ledger_oplog(spark, sf_dir)))


def compaction_summary(
    oplog: DataFrame, materialize_fold: bool = True
) -> DataFrame:
    """q427's compaction fold over an (fp, doc_id, batch) op log —
    shared with q431, which feeds it the SAME log read back from a
    fingerprint-bucketed table so the fp-grain stages run
    exchange-free (the q370 persisted-layout story applied to the
    maintenance path). ``materialize_fold=False`` keeps the per-key
    fold lineage-backed: on a bucketed source its three consumers
    each re-fold bucket-locally (zero exchanges) instead of
    checkpointing a key-grain frame — and a checkpoint would ERASE
    the scan's bucket partitioning, forcing the ops join to
    re-shuffle."""
    from pyspark.sql import Window

    from pipeline_usnvc_spark.operators.checkpoint import materialize

    # fp-grain fold consumed three times below: materialize once.
    # n_batches rides the same fold so the log/snapshot summary never
    # needs a second data pass (log rows = sum of per-key distinct
    # batches).
    per_key = oplog.groupBy("fp").agg(
        F.min("batch").alias("first_batch"),
        F.min("doc_id").alias("canonical"),
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("batch").cast("bigint").alias("n_batches"),
    )
    if materialize_fold:
        per_key = materialize(per_key)
    ops = (
        oplog.join(per_key.select("fp", "first_batch"), "fp")
        .groupBy("batch")
        .agg(
            F.countDistinct("fp").cast("bigint").alias("n_ops"),
            F.countDistinct(
                F.when(F.col("batch") == F.col("first_batch"), F.col("fp"))
            )
            .cast("bigint")
            .alias("n_inserts"),
            F.count("*").cast("bigint").alias("n_docs"),
        )
    )
    keys_by_first = per_key.groupBy(
        F.col("first_batch").alias("kb")
    ).agg(F.count("*").cast("bigint").alias("new_keys"))
    summary = per_key.agg(
        F.sum("n_batches").cast("bigint").alias("log_rows_total"),
        F.count("*").cast("bigint").alias("snapshot_rows"),
    )
    # batch spine is 4 rows: the cumulative window is bounded by the
    # commit count, never the data
    w = Window.orderBy("batch").rowsBetween(Window.unboundedPreceding, 0)
    return (
        ops.join(keys_by_first, ops["batch"] == keys_by_first["kb"], "left")
        .drop("kb")
        .withColumn(
            "cum_keys",
            F.sum(F.coalesce(F.col("new_keys"), F.lit(0))).over(w).cast("bigint"),
        )
        .drop("new_keys")
        .crossJoin(F.broadcast(summary))
        .select(
            "batch",
            "n_docs",
            "n_ops",
            "n_inserts",
            (F.col("n_ops") - F.col("n_inserts")).alias("n_dup_ops"),
            "cum_keys",
            "log_rows_total",
            "snapshot_rows",
            F.expr(
                "CAST((1000000 * (log_rows_total - snapshot_rows))"
                " div log_rows_total AS BIGINT)"
            ).alias("reclaim_micro"),
        )
        .orderBy("batch")
    )


def _q428_oracle() -> str:
    from pipeline_usnvc_spark.functions.text import TOKENIZE_SQL

    return f"""
    WITH {_LEDGER_SQL.format(toks=TOKENIZE_SQL)},
    v1 AS (
        SELECT fp, min(doc_id) AS canonical_v1
        FROM oplog WHERE batch <= 1 GROUP BY fp
    ),
    diff AS (
        SELECT k.fp, k.n_docs,
               CASE WHEN v1.fp IS NULL THEN 'added'
                    WHEN k.canonical <> v1.canonical_v1 THEN 'repointed'
                    ELSE 'unchanged' END AS status
        FROM per_key k LEFT JOIN v1 USING (fp)
    )
    SELECT status,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(n_docs) AS BIGINT) AS n_docs
    FROM diff GROUP BY status
    ORDER BY status
    """


# ---------------------------------------------------------------------------
# q428 — snapshot-isolation diff: reconstruct the ledger state AS OF
# version 1 (batches 0-1) and version 3 (all batches) from the same
# op log and classify every key — added (absent at v1), repointed
# (canonical changed: a later batch delivered a smaller id, the MERGE
# WHEN MATCHED case), unchanged. The time-travel diff a lakehouse
# answers from snapshot metadata, computed set-based from the log.
# Composes q249's incremental ledger and q92's table-diff shape.
# ---------------------------------------------------------------------------
@query("q428_snapshot_diff", oracle=_q428_oracle())
def q428_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    oplog = _ledger_oplog(spark, sf_dir)
    # ONE fold computes both snapshots: v1's canonical is the
    # conditional min over batches <= 1 (null when the key is absent
    # at v1) — no second data pass, no self-join
    per_key = oplog.groupBy("fp").agg(
        F.min("doc_id").alias("canonical"),
        F.min(F.when(F.col("batch") <= 1, F.col("doc_id"))).alias("canonical_v1"),
        F.count("*").cast("bigint").alias("n_docs"),
    )
    status = (
        F.when(F.col("canonical_v1").isNull(), F.lit("added"))
        .when(F.col("canonical") != F.col("canonical_v1"), F.lit("repointed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        per_key.select(status.alias("status"), "n_docs")
        .groupBy("status")
        .agg(
            F.count("*").cast("bigint").alias("n_keys"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
        )
        .orderBy("status")
    )
