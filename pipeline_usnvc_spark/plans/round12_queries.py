"""Round-12 query family: closed-form oracle companions for the two
remaining deterministic rows-only queries (VERDICT r11 item 2), the
update-mode streaming twin (item 3), and the bucketed-ledger scale
path (item 4).

q366 (isotonic calibration) and q374 (Markov absorption) are
deterministic but were verified only by in-plan contracts plus
pure-Python recomputes: q366's PAVA is a sequential pooling pass run
driver-side on the 10-bin spine, and q374's fundamental-matrix solve
is a <=25-variable LAPACK call. The q425/q426 precedent — certify
the SAME numeric path at a grain where the solve has an exact closed
form — applies to both:

- q429 exact isotonic calibration: PAVA's output has a well-known
  closed form, the min-max formula cal(i) = max_{j<=i} min_{k>=i}
  avg(x over bins j..k) (Ayer et al. 1955; Robertson/Wright/Dykstra,
  "Order Restricted Statistical Inference", Thm 1.4.4). On the
  10-bin confidence spine every interval (j,k) is enumerable —
  <=55 intervals, <=220 (bin, interval) triples, all SPINE-bounded —
  so the whole fit runs distributed with NO driver-side loop, and
  every comparison rides an exact integer order key. The DuckDB
  oracle recomputes the same formula from row grain; the hash row
  certifies binning, interval statistics, the argmin/argmax lattice,
  and the floor division to micro units end-to-end. A pytest
  additionally asserts q429's calibrated values coincide with q366's
  driver-side exact-Fraction PAVA per bin (the two formulations are
  provably the same function).
- q430 coarse-chain absorption probability: q374's numeric path
  (user-keyed lead window -> transition counts -> (I-Q)p = r solve
  -> absorption probabilities) at the 2-transient-superstate grain,
  where the solve is Cramer's rule on exact integers. Event types
  are coarsened by a deterministic rule (A = types ordering before
  'purchase', B = after; 'purchase' and chain-end absorb), counts
  aggregate distributed on the <=8-cell lattice, and — unlike q374,
  which collects the lattice for numpy — the solve itself runs
  IN-PLAN on the scalar frame: multiply row s of (I-Q)p = r by n_s
  and every coefficient is a transition COUNT, so
    D      = (nA-nAA)*(nB-nBB) - nAB*nBA
    p_A    = (nAt*(nB-nBB) + nAB*nBt) / D
    p_B    = ((nA-nAA)*nBt + nBA*nAt) / D
  with every intermediate a non-negative integer. D > 0 whenever
  every chain can terminate (substochastic Q; the executed contract
  asserts p <= 1 and D >= 1 rather than assuming it).

Reference scope note: the reference pipeline (usnvc/usnvc.py) has no
calibration or Markov tooling — this family belongs to the mandated
LLM-pipeline extension surface (q345 ECE / q366 PAVA / q121 / q371 /
q374 are its prior members).

Exactness discipline (the suite-wide rules): every division is a
floor division of non-negative exact integers (Spark `div` on
DECIMAL(38,0) == DuckDB `//` on HUGEINT for non-negative operands —
no shift idiom needed anywhere in this module); every float output
is one cast-and-divide-by-literal, the identical IEEE-754 expression
on both engines. Order keys for exact rational comparison use
ord = (x * 1e24) div n: two distinct fractions x1/n1 != x2/n2 with
n <= 1e12 differ by >= 1/(n1*n2) >= 1e-24, so the integer key is a
total order on values up to a trillion documents; x*1e24 <= 1e36
stays under both the DECIMAL(38,0) (~9.99e37) and HUGEINT (1.7e38)
ceilings. Beyond 1e12 rows per bin-spine the key scale must grow
with the corpus (same caveat family as q362's quant).

Scale shape: q429 is one documents-grain aggregation to the 10-row
bin spine; everything after is spine-grain (<=220 rows). q430 is one
user-keyed window (the q121/q371/q374 spine — the only row-grain
shuffle), one lattice aggregation with map-side combine, and a
1-row closed-form solve. q431 writes the ledger op-log BUCKETED by
fingerprint once, then folds it with ZERO exchanges (the q370
persisted-layout story applied to q427's maintenance path). q432
keeps one state row per day, emitted incrementally (update mode).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pipeline_usnvc_spark.plans.registry import _d38, query
from pipeline_usnvc_spark.sources.tables import load_table

# Exact-rational order key scale: total order for bin counts <= 1e12
# (see module docstring).
_ORD_SCALE = 10**24


def _pfdiv(num: Column, den: Column) -> Column:
    """Exact floor division of NON-NEGATIVE decimals, staying in
    DECIMAL(38,0). Spark's ``div`` operator returns BIGINT, so a
    quotient beyond 9.2e18 (the 1e24-scaled order keys here)
    overflows it — strip the remainder with pmod and divide exactly
    instead (the _sfdiv idiom minus the sign shift, which
    non-negative operands don't need)."""
    num, den = _d38(num), _d38(den)
    return ((num - F.pmod(num, den)) / den).cast("decimal(38,0)")


def _q429_oracle() -> str:
    from pipeline_usnvc_spark.functions.text import DOC_SCORE_SQL

    return f"""
    WITH per_bin AS (
        SELECT least(CAST(floor({DOC_SCORE_SQL} / 100000.0) AS BIGINT), 9) AS bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS x
        FROM documents GROUP BY 1
    ),
    intervals AS (
        SELECT j.bin AS j, k.bin AS k,
               CAST(sum(m.x) AS HUGEINT) AS x_pool,
               CAST(sum(m.n) AS HUGEINT) AS n_pool
        FROM per_bin j
        JOIN per_bin k ON k.bin >= j.bin
        JOIN per_bin m ON m.bin BETWEEN j.bin AND k.bin
        GROUP BY 1, 2
    ),
    keyed AS (
        SELECT j, k, x_pool, n_pool,
               (x_pool * CAST(1000000000000000000000000 AS HUGEINT)) // n_pool
                   AS ord
        FROM intervals
    ),
    triples AS (
        SELECT b.bin, b.n, b.x, t.j, t.k, t.x_pool, t.n_pool, t.ord,
               row_number() OVER (PARTITION BY b.bin, t.j
                                  ORDER BY t.ord ASC, t.k ASC) AS rn_min
        FROM per_bin b JOIN keyed t ON b.bin BETWEEN t.j AND t.k
    ),
    mins AS (
        SELECT bin, n, x, j, k, x_pool, n_pool, ord,
               row_number() OVER (PARTITION BY bin
                                  ORDER BY ord DESC, j ASC) AS rn_max
        FROM triples WHERE rn_min = 1
    )
    SELECT CAST(bin AS BIGINT) AS bin, n AS n_docs, x AS n_pos,
           CAST(j AS BIGINT) AS j_star, CAST(k AS BIGINT) AS k_star,
           CAST(x_pool AS BIGINT) AS x_pool,
           CAST(n_pool AS BIGINT) AS n_pool,
           CAST((x_pool * 1000000) // n_pool AS BIGINT) AS cal_micro,
           CAST((x_pool * 1000000) // n_pool AS DOUBLE) / 1000000.0
               AS calibrated
    FROM mins WHERE rn_max = 1
    ORDER BY bin
    """


# ---------------------------------------------------------------------------
# q429 — exact distributed isotonic calibration (q366's numeric path,
# hash-green): the min-max closed form of PAVA evaluated entirely
# in-plan on the 10-bin confidence spine. cal(i) = max_{j<=i}
# min_{k>=i} (sum x over bins j..k) / (sum n over bins j..k); the
# argmin/argmax ride the exact integer order key (x*1e24) div n
# (total order for <=1e12 rows — module docstring), ties broken
# deterministically by (k asc) / (j asc) — value-safe, since tied
# keys at this envelope mean exactly equal rationals. The executed
# contract asserts the output is monotone in the bin, which the
# min-max form guarantees — a violation means the order key lost
# exactness (envelope breach) and must fail loudly.
# ---------------------------------------------------------------------------
@query("q429_exact_isotonic_calibration", oracle=_q429_oracle())
def q429_exact_isotonic_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pipeline_usnvc_spark.functions.text import doc_score_micro
    from pipeline_usnvc_spark.operators.checkpoint import materialize
    from pipeline_usnvc_spark.operators.contracts import contract_filter

    docs = load_table(spark, sf_dir, "documents")
    # the 10-row bin spine has FOUR consumers below (the j/k/m spine
    # copies and the triple join's left side): materialize so the
    # documents-grain pass — the only data-grain work in the whole
    # query — runs once, not four times
    per_bin = materialize(
        docs.select(
            F.least(
                F.floor(doc_score_micro() / 100000).cast("bigint"), F.lit(9)
            ).alias("bin"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("x"),
        )
    )
    # all frames below are spine-grain (<=10 bins, <=55 intervals,
    # <=220 triples): the joins are range joins on the bounded spine
    # and the planner broadcasts them on its own — no hints needed
    j = per_bin.select(F.col("bin").alias("j"))
    k = per_bin.select(F.col("bin").alias("k"))
    m = per_bin.select(
        F.col("bin").alias("m"), F.col("x").alias("mx"), F.col("n").alias("mn")
    )
    intervals = (
        j.join(k, F.col("k") >= F.col("j"))
        .join(m, (F.col("m") >= F.col("j")) & (F.col("m") <= F.col("k")))
        .groupBy("j", "k")
        .agg(
            F.sum("mx").cast("decimal(38,0)").alias("x_pool"),
            F.sum("mn").cast("decimal(38,0)").alias("n_pool"),
        )
        .withColumn(
            "ord",
            _pfdiv(
                _d38(F.col("x_pool"))
                * F.expr(f"CAST({_ORD_SCALE} AS DECIMAL(38,0))"),
                F.col("n_pool"),
            ),
        )
    )
    triples = per_bin.join(
        intervals, (F.col("bin") >= F.col("j")) & (F.col("bin") <= F.col("k"))
    )
    w_min = Window.partitionBy("bin", "j").orderBy(
        F.col("ord").asc(), F.col("k").asc()
    )
    mins = triples.withColumn("rn_min", F.row_number().over(w_min)).filter(
        F.col("rn_min") == 1
    )
    w_max = Window.partitionBy("bin").orderBy(F.col("ord").desc(), F.col("j").asc())
    best = mins.withColumn("rn_max", F.row_number().over(w_max)).filter(
        F.col("rn_max") == 1
    )
    out = best.select(
        F.col("bin").cast("bigint").alias("bin"),
        F.col("n").alias("n_docs"),
        F.col("x").alias("n_pos"),
        F.col("j").cast("bigint").alias("j_star"),
        F.col("k").cast("bigint").alias("k_star"),
        F.col("x_pool").cast("bigint").alias("x_pool"),
        F.col("n_pool").cast("bigint").alias("n_pool"),
        F.expr(
            "CAST((CAST(x_pool AS DECIMAL(38,0)) * 1000000)"
            " div CAST(n_pool AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("cal_micro"),
        (
            F.expr(
                "CAST((CAST(x_pool AS DECIMAL(38,0)) * 1000000)"
                " div CAST(n_pool AS DECIMAL(38,0)) AS BIGINT)"
            ).cast("double")
            / F.lit(1000000.0)
        ).alias("calibrated"),
    )
    w_prev = Window.orderBy("bin")
    checked = contract_filter(
        out.withColumn("_prev", F.lag("cal_micro").over(w_prev)),
        F.col("_prev").isNull() | (F.col("cal_micro") >= F.col("_prev")),
        F.concat(
            F.lit("isotonic min-max output not monotone at bin "),
            F.col("bin").cast("string"),
            F.lit(": cal="),
            F.col("cal_micro").cast("string"),
            F.lit(" prev="),
            F.col("_prev").cast("string"),
        ),
    )
    return checked.drop("_prev").orderBy("bin")


_COARSE_SQL = (
    "CASE WHEN event_type = 'purchase' THEN 'purchase'"
    " WHEN event_type < 'purchase' THEN 'A' ELSE 'B' END"
)


def _q430_oracle() -> str:
    return f"""
    WITH stepped AS (
        SELECT {_COARSE_SQL} AS a,
               coalesce(lead({_COARSE_SQL})
                            OVER (PARTITION BY user_id ORDER BY ts, event_id),
                        '__END__') AS b
        FROM events
    ),
    lattice AS (
        SELECT a, b, CAST(count(*) AS HUGEINT) AS n
        FROM stepped WHERE a <> 'purchase' GROUP BY 1, 2
    ),
    scalars AS (
        SELECT
            coalesce(sum(CASE WHEN a = 'A' THEN n END), 0) AS n_a,
            coalesce(sum(CASE WHEN a = 'A' AND b = 'A' THEN n END), 0) AS n_aa,
            coalesce(sum(CASE WHEN a = 'A' AND b = 'B' THEN n END), 0) AS n_ab,
            coalesce(sum(CASE WHEN a = 'A' AND b = 'purchase' THEN n END), 0) AS n_at,
            coalesce(sum(CASE WHEN a = 'B' THEN n END), 0) AS n_b,
            coalesce(sum(CASE WHEN a = 'B' AND b = 'A' THEN n END), 0) AS n_ba,
            coalesce(sum(CASE WHEN a = 'B' AND b = 'B' THEN n END), 0) AS n_bb,
            coalesce(sum(CASE WHEN a = 'B' AND b = 'purchase' THEN n END), 0) AS n_bt
        FROM lattice
    ),
    solved AS (
        SELECT *,
               greatest((n_a - n_aa) * (n_b - n_bb) - n_ab * n_ba, 1) AS det,
               n_at * (n_b - n_bb) + n_ab * n_bt AS num_a,
               (n_a - n_aa) * n_bt + n_ba * n_at AS num_b
        FROM scalars
    )
    SELECT 'A' AS state,
           CAST(n_a AS BIGINT) AS n_out, CAST(n_aa AS BIGINT) AS n_self,
           CAST(n_ab AS BIGINT) AS n_cross, CAST(n_at AS BIGINT) AS n_to_target,
           CAST((num_a * 1000000) // det AS BIGINT) AS p_micro,
           CAST((num_a * 1000000) // det AS DOUBLE) / 1000000.0
               AS p_absorb_purchase
    FROM solved
    UNION ALL
    SELECT 'B' AS state,
           CAST(n_b AS BIGINT), CAST(n_bb AS BIGINT),
           CAST(n_ba AS BIGINT), CAST(n_bt AS BIGINT),
           CAST((num_b * 1000000) // det AS BIGINT),
           CAST((num_b * 1000000) // det AS DOUBLE) / 1000000.0
    FROM solved
    ORDER BY state
    """


# ---------------------------------------------------------------------------
# q430 — coarse-chain absorption probability (q374's numeric path,
# hash-green): the absorbing-chain solve at the 2-transient-
# superstate grain, where (I-Q)p = r collapses to Cramer's rule on
# exact transition counts (module docstring derivation). Unlike
# q374, the solve runs IN-PLAN on the scalar lattice frame — no
# driver-side collect anywhere. The executed contract asserts
# 0 <= p <= 1 and det >= 1 (substochasticity made checkable instead
# of assumed). Coarsening rule: transient A/B by event_type order
# against 'purchase'; 'purchase' and chain-end absorb — identical
# lexicographic string comparison on both engines.
# ---------------------------------------------------------------------------
@query("q430_coarse_chain_absorption", oracle=_q430_oracle())
def q430_coarse_chain_absorption(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.contracts import contract_filter

    TARGET = "purchase"
    coarse = (
        F.when(F.col("event_type") == TARGET, F.lit(TARGET))
        .when(F.col("event_type") < TARGET, F.lit("A"))
        .otherwise(F.lit("B"))
    )
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = ev.select(
        coarse.alias("a"),
        F.coalesce(F.lead(coarse).over(w), F.lit("__END__")).alias("b"),
    ).filter(F.col("a") != TARGET)
    lattice = stepped.groupBy("a", "b").agg(
        F.count("*").cast("decimal(38,0)").alias("n")
    )

    def cell(a: str, b: str | None) -> Column:
        cond = F.col("a") == a if b is None else (
            (F.col("a") == a) & (F.col("b") == b)
        )
        return F.coalesce(
            F.sum(F.when(cond, F.col("n"))).cast("decimal(38,0)"),
            F.lit(0).cast("decimal(38,0)"),
        )

    scalars = lattice.agg(
        cell("A", None).alias("n_a"),
        cell("A", "A").alias("n_aa"),
        cell("A", "B").alias("n_ab"),
        cell("A", TARGET).alias("n_at"),
        cell("B", None).alias("n_b"),
        cell("B", "A").alias("n_ba"),
        cell("B", "B").alias("n_bb"),
        cell("B", TARGET).alias("n_bt"),
    )
    solved = scalars.withColumns(
        {
            "det": F.greatest(
                (
                    (_d38(F.col("n_a")) - _d38(F.col("n_aa")))
                    * (_d38(F.col("n_b")) - _d38(F.col("n_bb")))
                    - _d38(F.col("n_ab")) * _d38(F.col("n_ba"))
                ).cast("decimal(38,0)"),
                _d38(F.lit(1)),
            ),
            "num_a": (
                _d38(F.col("n_at")) * (_d38(F.col("n_b")) - _d38(F.col("n_bb")))
                + _d38(F.col("n_ab")) * _d38(F.col("n_bt"))
            ).cast("decimal(38,0)"),
            "num_b": (
                (_d38(F.col("n_a")) - _d38(F.col("n_aa"))) * _d38(F.col("n_bt"))
                + _d38(F.col("n_ba")) * _d38(F.col("n_at"))
            ).cast("decimal(38,0)"),
        }
    )
    # unpivot the scalar solve to one row per transient superstate
    out = solved.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("A").alias("state"),
                    F.col("n_a").cast("bigint").alias("n_out"),
                    F.col("n_aa").cast("bigint").alias("n_self"),
                    F.col("n_ab").cast("bigint").alias("n_cross"),
                    F.col("n_at").cast("bigint").alias("n_to_target"),
                    F.expr("CAST((num_a * 1000000) div det AS BIGINT)").alias(
                        "p_micro"
                    ),
                ),
                F.struct(
                    F.lit("B").alias("state"),
                    F.col("n_b").cast("bigint").alias("n_out"),
                    F.col("n_bb").cast("bigint").alias("n_self"),
                    F.col("n_ba").cast("bigint").alias("n_cross"),
                    F.col("n_bt").cast("bigint").alias("n_to_target"),
                    F.expr("CAST((num_b * 1000000) div det AS BIGINT)").alias(
                        "p_micro"
                    ),
                ),
            )
        ).alias("s")
    ).select("s.*")
    checked = contract_filter(
        out,
        (F.col("p_micro") >= 0) & (F.col("p_micro") <= 1000000),
        F.concat(
            F.lit("absorption probability out of [0,1] at state "),
            F.col("state"),
            F.lit(": p_micro="),
            F.col("p_micro").cast("string"),
        ),
    )
    return checked.select(
        "state",
        "n_out",
        "n_self",
        "n_cross",
        "n_to_target",
        "p_micro",
        (F.col("p_micro").cast("double") / F.lit(1000000.0)).alias(
            "p_absorb_purchase"
        ),
    ).orderBy("state")


def _q431_oracle() -> str:
    # layout-independent results: the bucketed path must produce
    # EXACTLY q427's compaction summary, so it shares q427's oracle —
    # correctness certifies the persisted-layout path end-to-end.
    from pipeline_usnvc_spark.plans.round11_queries import _q427_oracle

    return _q427_oracle()


# ---------------------------------------------------------------------------
# q431 — bucketed-ledger compaction (VERDICT r11 item 4): the q427
# MERGE-ledger fold with the op log STORED bucketed by fingerprint
# (8 buckets, the q370 persisted-layout machinery). The 100x stress
# showed the fp-grain digest shuffle is the entire compaction cost
# (SCALE.md r11: 43.2 s on the 5M-doc ledger); a ledger bucketed at
# write time pays that exchange once, and every subsequent
# compaction / snapshot fold rides the stored layout exchange-free —
# the real lakehouse shape for a maintenance log that is folded far
# more often than it is written. The fold itself is byte-identical
# to q427 (shared compaction_summary, fed the bucketed read-back
# with materialize_fold=False so per-key recomputes stay
# bucket-local instead of checkpointing a key-grain frame), and the
# oracle is q427's — a hash-green row certifies the bucketed path
# produces the exact shuffled-path result. Plan-audited in
# tests/test_plans.py: ZERO fp-grain exchanges below the fold.
# ---------------------------------------------------------------------------
@query("q431_bucketed_ledger_compaction", oracle=_q431_oracle())
def q431_bucketed_ledger_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import shutil

    from pipeline_usnvc_spark.plans.round11_queries import (
        _ledger_oplog,
        compaction_summary,
    )

    import re

    # external table under an explicit session-scoped /tmp location —
    # the q370 pattern (read-only CWD safety, concurrent-session
    # isolation via applicationId, atexit reap because the returned
    # DataFrame reads the table lazily). The name is ALSO salted by
    # sf_dir (round-12 review finding): with an app-only key, a
    # second same-session invocation at a different SF would drop and
    # rewrite the table an earlier returned (uncollected) q431
    # DataFrame still lazily reads — silently swapping its data.
    spark.sql(
        "CREATE DATABASE IF NOT EXISTS bucketed_demo "
        "LOCATION '/tmp/pipeline_usnvc_spark_bucketed_demo_db'"
    )
    import hashlib

    app = spark.sparkContext.applicationId.replace("-", "_")
    # readable suffix + md5 prefix of the FULL path: a 40-char suffix
    # alone would collide for two fixture dirs sharing it in one
    # session, reintroducing the drop-and-rewrite race the salt
    # prevents (ADVICE r12)
    tag = (
        re.sub(r"[^A-Za-z0-9]+", "_", sf_dir.strip("/"))[-40:]
        + "_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    )
    base = f"/tmp/pipeline_usnvc_spark_ledger_bkt_{app}_{tag}"
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    name = f"bucketed_demo.ledger_bkt_{app}_{tag}"

    def _drop_table() -> None:
        # best-effort metastore cleanup: without it the external-table
        # registration dangles at a deleted /tmp path (ADVICE r12 —
        # benign with the in-memory catalog, stale-table errors with a
        # persistent one); the session may already be gone at exit
        try:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
        except Exception:
            pass

    atexit.register(_drop_table)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    loc = f"{base}/oplog"
    shutil.rmtree(loc, ignore_errors=True)
    (
        _ledger_oplog(spark, sf_dir)
        .repartition(8, "fp")  # the write-time exchange, paid ONCE
        .write.bucketBy(8, "fp")
        .sortBy("fp")
        .option("path", loc)
        .mode("overwrite")
        .saveAsTable(name)
    )
    return compaction_summary(spark.table(name), materialize_fold=False)


# ---------------------------------------------------------------------------
# q432 — update-mode staleness maintenance (VERDICT r11 item 3,
# q424's production shape): complete mode re-emits the ENTIRE state
# every micro-batch — fine at day grain, but at a production
# partition grain (hour x source over years) the emission cost grows
# with total state. The lakehouse shape is UPDATE mode — each batch
# emits only the day rows that changed — merged downstream into the
# stats table (modeled here as last-write-wins by the monotone row
# count: a day's count strictly increases on every re-emission, so
# max_by(state, n_rows) IS the ledger's final state). The event
# source is split into four deterministic files streamed one per
# trigger, so days genuinely span micro-batches and the re-emission
# path is exercised (the executed contract asserts at least one day
# emitted more than once). The merged state is audited row-for-row
# against the batch recompute via the same full-outer equivalence
# contract as q424, then feeds the same vacuum decision. Rows-only:
# stateful streaming has no SQL oracle; n_emissions is additionally
# pinned against a pure-Python slice recompute in
# tests/test_round12_independent.py. State bound: like q424, the
# replay aggregates without a watermark (the day spine is
# calendar-bounded and the source finite); a production deployment
# over an unbounded stream adds withWatermark("ts", ...) so closed
# days age out of the state store — counts/min/max stay mergeable
# under it and the downstream merge is unchanged.
# ---------------------------------------------------------------------------
@query("q432_update_mode_staleness")
def q432_update_mode_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import glob
    import os
    import shutil
    import tempfile

    from pipeline_usnvc_spark.operators.contracts import contract_filter
    from pipeline_usnvc_spark.plans.round11_queries import (
        _VACUUM_DEAD_MICRO,
        day_liveness,
    )
    from pipeline_usnvc_spark.streaming.pipeline import run_stream_to_memory

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    # four deterministic slices -> four micro-batches (one file per
    # trigger, the q82 pattern); event ids interleave days across
    # slices, so most days update in several batches. ONE events
    # pass builds all four (round-12 review finding: the first cut
    # ran four filtered scan+write jobs): partitionBy splits by the
    # slice value, and repartition(4, slice) keeps each value in one
    # task, so every slice=i directory holds exactly one part file.
    tmp = tempfile.mkdtemp(prefix="q432_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    src = f"{tmp}/src"
    os.makedirs(src)
    parts = f"{tmp}/parts"
    (
        events.withColumn("slice", (F.col("event_id") % 4).cast("int"))
        .repartition(4, "slice")
        .write.partitionBy("slice")
        .parquet(parts)
    )
    for i in range(4):
        found = glob.glob(f"{parts}/slice={i}/part-*.parquet")
        if len(found) != 1:
            # explicit raise, not assert: under `python -O` a stripped
            # assert would silently leave a multi-file slice's extra
            # events out of the stream source, corrupting the
            # batch-equivalence audit inputs (ADVICE r12)
            raise RuntimeError(f"slice {i}: expected one file, got {found}")
        os.rename(found[0], f"{src}/slice{i}.parquet")
    shutil.rmtree(parts)
    stream = (
        spark.readStream.schema("event_id bigint, user_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    updates = run_stream_to_memory(
        day_liveness(stream), "q432_staleness_updates", output_mode="update"
    )
    # downstream MERGE into the stats table: per day, the emission
    # with the largest n_rows is the final state (counts are strictly
    # monotone across a day's re-emissions — update mode only emits a
    # day when new rows arrived for it)
    merged = updates.groupBy("zone_day").agg(
        F.max_by(
            F.struct("n_rows", "n_dead", "min_t", "max_t"), F.col("n_rows")
        ).alias("s"),
        F.count("*").cast("bigint").alias("n_emissions"),
    ).select("zone_day", "s.*", "n_emissions")
    # the update path must have been exercised: with four batches and
    # multi-event days, SOME day re-emitted (a single-emission world
    # means the source collapsed to one batch — fail loudly)
    multi = merged.agg(
        F.max("n_emissions").cast("bigint").alias("max_emissions")
    )
    batch = day_liveness(events).select(
        F.col("zone_day").alias("b_day"),
        F.col("n_rows").alias("b_n"),
        F.col("n_dead").alias("b_dead"),
        F.col("min_t").alias("b_min_t"),
        F.col("max_t").alias("b_max_t"),
    )
    audit = merged.join(batch, merged["zone_day"] == batch["b_day"], "full_outer")
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
            F.lit("update-mode staleness divergence for day "),
            F.coalesce(F.col("zone_day"), F.col("b_day")),
        ),
    ).select("zone_day", "n_rows", "n_dead", "min_t", "max_t", "n_emissions")
    checked = contract_filter(
        checked.crossJoin(F.broadcast(multi)),
        F.col("max_emissions") >= 2,
        F.lit("update mode never re-emitted: source collapsed to one batch"),
    ).drop("max_emissions")
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
            "n_emissions",
            "table_dead_fraction_micro",
            "min_t",
            "max_t",
        )
        .orderBy("zone_day")
    )
