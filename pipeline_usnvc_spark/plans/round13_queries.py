"""Round-13 query family: the closed-form whitening companion
(VERDICT r12 item 3) and the update-mode twin of the bucketed dedup
ledger (item 7).

- q433 blockwise whitening probe: q373's covariance -> Cholesky
  whitening -> distributed re-verify path certified hash-green at the
  2x2 block grain, where the inverse square root HAS a closed form.
  Per block (dims 2k-1, 2k), the 2x2 Cholesky whitening factors into
  two scalars both engines reproduce exactly:

      z_a = x_a / sqrt(var_a)                (L11 inverse)
      z_b = (x_b - beta x_a) / sqrt(schur)   (Gram-Schmidt + L22 inv)

  with beta = cov_ab/var_a from EXACT integer covariance statistics
  (q426's fit), var_a and the Schur complement micro-rounded by exact
  sign-correct floor division, the eps ridge expressed as +1 micro
  unit (exactly q373's 1e-6), and each whitening scale ONE
  1/sqrt(int/1e6) expression — IEEE sqrt is correctly rounded, so
  identical integer inputs give identical doubles on both engines.
  The whitened covariance is then re-aggregated from quantized z
  components and reported as exact integers; the executed contract
  pins the whitened block to the identity within 2% (q373's 0.02
  tolerance at micro grain). A pytest additionally pins q433's
  sufficient statistics to the SAME gram-kernel cells q373 consumes
  and recomputes the whole chain in pure Python.

- q434 update-mode ledger maintenance: q427/q431's MERGE-ledger fold
  as a STREAM — the four ledger batches arrive one per micro-batch,
  the per-fingerprint fold (first_batch, canonical, n_docs) runs as a
  streaming aggregation in UPDATE mode (each trigger emits only the
  fingerprints that changed), and the downstream merge is
  last-write-wins by the strictly monotone n_docs (a fingerprint only
  re-emits when new ops arrived for it). The update log is then
  WRITTEN BUCKETED by fingerprint (q431's persisted layout), so the
  merge fold and the batch-equivalence audit run with ZERO
  fingerprint-grain exchanges below the bucketed scan (plan-audited
  in tests/test_plans.py) — the streaming story now certifies the
  same layout the batch fold certifies. The merged state is audited
  key-for-key against q427's batch per-key fold via the full-outer
  equivalence contract (both directions: a phantom, missing, or
  divergent fingerprint EXISTS as an audit row), re-emission is
  proven (contract: some fingerprint emitted >= 2 times), and the
  output is the 4-row first-batch-grain compaction rollup. Rows-only:
  stateful streaming has no SQL oracle; n_emissions and the rollup
  are pinned by an independent recompute in
  tests/test_round13_independent.py.

Also in this family (added later in round 13): q435/q436, the
portable-HLL companions of the Datasketches sketch queries — see the
family comment above their definitions.

Reference scope note: the reference pipeline (usnvc/usnvc.py) has no
numeric-probe or streaming-ledger tooling — both queries belong to
the mandated LLM-pipeline extension surface (q425/q426/q429/q430 and
q427/q431/q432 are their prior members).

Magnitude headroom (q433, quant 1e7, n <= ~1e5 vectors): raw gram
cells <= n*q^2 ~ 1e5*1e16 = 1e21; centered cells n*g <= 1e26; the
largest shifted numerator is the whitened-covariance micro division
(|num|*1e6 + 1e7*n^2*1e14 ~ 1e33 at n=1e5) — inside DECIMAL(38,0)
and HUGEINT. Whitened components are O(sigma^-1 * x) ~ O(10), so
their quantized gram cells stay below the raw-cell bound. The
q425-proven envelope (sum-of-q^2 fits BIGINT stats columns) binds
first, as before.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pipeline_usnvc_spark.plans.registry import _d38, query
from pipeline_usnvc_spark.plans.round11_queries import (
    _ORACLE_PAIRS,
    _Q,
    _sfdiv,
    _sfdiv_sql,
)
from pipeline_usnvc_spark.sources.tables import load_table

# whitened-identity tolerance: 2% at micro grain (q373's 0.02)
_IDENT_TOL_MICRO = 20_000


def _cov_micro_sql(num: str, n: str) -> str:
    """Micro-rounded covariance from centered integer stats — the
    q426 oracle idiom: floor(num * 1e6 / (n^2 * 1e14)), sign-correct."""
    return _sfdiv_sql(
        f"({num}) * 1000000", f"({n}) * ({n}) * 100000000000000", 10**7
    )


def _cov_micro(num: Column, n: Column) -> Column:
    """Spark half of _cov_micro_sql (DECIMAL(38,0) domain)."""
    return _sfdiv(
        num * _d38(F.lit(10**6)),
        (_d38(n) * _d38(n) * F.expr("CAST(100000000000000 AS DECIMAL(38,0))"))
        .cast("decimal(38,0)"),
        10**7,
    )


def _q433_oracle() -> str:
    beta = _sfdiv_sql("cab * 1000000000", "greatest(caa, 1)", 10**13)
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
               CAST({beta} AS HUGEINT) AS beta_nano,
               CAST({_cov_micro_sql('caa', 'n')} AS HUGEINT) AS var_a_micro
        FROM betas
    ),
    scal1 AS (
        SELECT blk, n, beta_nano, var_a_micro,
               CAST(beta_nano AS DOUBLE) / 1000000000.0 AS beta,
               1.0 / sqrt(CAST(var_a_micro + 1 AS DOUBLE) / 1000000.0) AS wa
        FROM solved
    ),
    dec AS (
        SELECT p.blk,
               CAST(floor((p.xb - s.beta * p.xa) * 10000000) AS BIGINT) AS qzb
        FROM pairs p JOIN scal1 s ON s.blk = p.blk
    ),
    dstats AS (
        SELECT blk, CAST(count(*) AS HUGEINT) AS dn,
               CAST(sum(qzb) AS HUGEINT) AS szb,
               CAST(sum(CAST(qzb AS HUGEINT) * qzb) AS HUGEINT) AS gzbb
        FROM dec GROUP BY blk
    ),
    schur AS (
        SELECT blk,
               CAST({_cov_micro_sql('dn * gzbb - szb * szb', 'dn')} AS HUGEINT)
                   AS var_zb_micro
        FROM dstats
    ),
    scal2 AS (
        SELECT s.blk, s.n, s.beta_nano, s.var_a_micro, s.beta, s.wa,
               h.var_zb_micro,
               1.0 / sqrt(CAST(h.var_zb_micro + 1 AS DOUBLE) / 1000000.0) AS wb
        FROM scal1 s JOIN schur h ON h.blk = s.blk
    ),
    wrows AS (
        SELECT p.blk,
               CAST(floor((p.xa * s.wa) * 10000000) AS BIGINT) AS qwa,
               CAST(floor(((p.xb - s.beta * p.xa) * s.wb) * 10000000)
                    AS BIGINT) AS qwb
        FROM pairs p JOIN scal2 s ON s.blk = p.blk
    ),
    wstats AS (
        SELECT blk, CAST(count(*) AS HUGEINT) AS wn,
               CAST(sum(qwa) AS HUGEINT) AS swa,
               CAST(sum(qwb) AS HUGEINT) AS swb,
               CAST(sum(CAST(qwa AS HUGEINT) * qwa) AS HUGEINT) AS gwaa,
               CAST(sum(CAST(qwa AS HUGEINT) * qwb) AS HUGEINT) AS gwab,
               CAST(sum(CAST(qwb AS HUGEINT) * qwb) AS HUGEINT) AS gwbb
        FROM wrows GROUP BY blk
    )
    SELECT CAST(s.blk AS BIGINT) AS blk,
           CAST(2 * s.blk - 1 AS BIGINT) AS dim_a,
           CAST(2 * s.blk AS BIGINT) AS dim_b,
           CAST(s.n AS BIGINT) AS n_vectors,
           CAST(s.beta_nano AS BIGINT) AS beta_nano,
           CAST(s.var_a_micro AS BIGINT) AS var_a_micro,
           CAST(s.var_zb_micro AS BIGINT) AS var_zb_micro,
           s.wa AS w_scale_a,
           s.wb AS w_scale_b,
           CAST({_cov_micro_sql('w.wn * w.gwaa - w.swa * w.swa', 'w.wn')}
                AS BIGINT) AS var_wa_micro,
           CAST({_cov_micro_sql('w.wn * w.gwab - w.swa * w.swb', 'w.wn')}
                AS BIGINT) AS cov_w_micro,
           CAST({_cov_micro_sql('w.wn * w.gwbb - w.swb * w.swb', 'w.wn')}
                AS BIGINT) AS var_wb_micro
    FROM scal2 s JOIN wstats w ON w.blk = s.blk
    ORDER BY blk
    """


# ---------------------------------------------------------------------------
# q433 — blockwise whitening probe (q373's numeric path, hash-green;
# module docstring derivation). Scale shape: three map-side in-row
# block explodes over the corpus (no Python anywhere), three 32-group
# aggregations with map-side partial combine, two 32-row broadcast
# scalar frames; the solve is closed-form column arithmetic on the
# 32-row fit frame. The executed contract pins the whitened block to
# the identity (|var - 1e6| and |cov| <= 2% micro) — on a degenerate
# corpus (a block variance below the 1e-6 ridge grain) it fails
# loudly rather than certifying a non-whitening transform.
# ---------------------------------------------------------------------------
@query("q433_block_whitening_probe", oracle=_q433_oracle())
def q433_block_whitening_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.checkpoint import materialize
    from pipeline_usnvc_spark.operators.contracts import contract_filter

    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    # in-row block explode: zero shuffle to reach (blk, xa, xb) — the
    # q426 shape; re-scanned per pass (map-only) instead of
    # checkpointed (a checkpoint would materialize corpus-grain rows
    # to disk for a verification query)
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
    fit = raw.select(
        "blk",
        "n",
        (_d38(F.col("n")) * _d38(F.col("gab")) - _d38(F.col("sa")) * _d38(F.col("sb")))
        .cast("decimal(38,0)")
        .alias("cab"),
        (_d38(F.col("n")) * _d38(F.col("gaa")) - _d38(F.col("sa")) * _d38(F.col("sa")))
        .cast("decimal(38,0)")
        .alias("caa"),
        (_d38(F.col("n")) * _d38(F.col("gbb")) - _d38(F.col("sb")) * _d38(F.col("sb")))
        .cast("decimal(38,0)")
        .alias("cbb"),
    )
    # the q426 beta-shift envelope, executed in-plan: _sfdiv's 1e13
    # shift over greatest(caa, 1) requires |beta| < 1e4
    fit = contract_filter(
        fit,
        F.abs(F.col("cab"))
        < F.greatest(F.col("caa"), _d38(F.lit(1))) * _d38(F.lit(10**4)),
        F.concat(
            F.lit("q433 beta envelope |beta| < 1e4 violated at blk "),
            F.col("blk").cast("string"),
        ),
    )
    # 32-row fit frame, three consumers (dec pass, w pass, final):
    # materialize so the raw aggregation runs once
    solved = materialize(
        fit.withColumns(
            {
                "beta_nano": _sfdiv(
                    F.col("cab") * _d38(F.lit(10**9)),
                    F.greatest(F.col("caa"), _d38(F.lit(1))),
                    10**13,
                ),
                "var_a_micro": _cov_micro(F.col("caa"), F.col("n")),
            }
        )
    )
    beta = (F.col("beta_nano").cast("double") / F.lit(1000000000.0)).alias("beta")
    wa = (
        F.lit(1.0)
        / F.sqrt(
            (F.col("var_a_micro") + _d38(F.lit(1))).cast("double")
            / F.lit(1000000.0)
        )
    ).alias("wa")
    scal1 = F.broadcast(solved.select("blk", beta, wa))
    dec = pairs.join(scal1, "blk").select(
        "blk",
        F.floor((F.col("xb") - F.col("beta") * F.col("xa")) * F.lit(float(_Q)))
        .cast("bigint")
        .alias("qzb"),
    )
    dstats = dec.groupBy("blk").agg(
        F.count("*").cast("decimal(38,0)").alias("dn"),
        F.sum(_d38(F.col("qzb"))).cast("decimal(38,0)").alias("szb"),
        F.sum(_d38(F.col("qzb")) * _d38(F.col("qzb")))
        .cast("decimal(38,0)")
        .alias("gzbb"),
    )
    # 32-row Schur frame, two consumers (w pass, final): materialize
    # so the dec pass runs once
    schur = materialize(
        dstats.select(
            "blk",
            _cov_micro(
                _d38(F.col("dn")) * _d38(F.col("gzbb"))
                - _d38(F.col("szb")) * _d38(F.col("szb")),
                F.col("dn"),
            ).alias("var_zb_micro"),
        )
    )
    wb = (
        F.lit(1.0)
        / F.sqrt(
            (F.col("var_zb_micro") + _d38(F.lit(1))).cast("double")
            / F.lit(1000000.0)
        )
    ).alias("wb")
    scal2 = F.broadcast(
        solved.select("blk", beta, wa).join(schur.select("blk", wb), "blk")
    )
    wrows = pairs.join(scal2, "blk").select(
        "blk",
        F.floor((F.col("xa") * F.col("wa")) * F.lit(float(_Q)))
        .cast("bigint")
        .alias("qwa"),
        F.floor(
            ((F.col("xb") - F.col("beta") * F.col("xa")) * F.col("wb"))
            * F.lit(float(_Q))
        )
        .cast("bigint")
        .alias("qwb"),
    )
    wstats = wrows.groupBy("blk").agg(
        F.count("*").cast("decimal(38,0)").alias("wn"),
        F.sum(_d38(F.col("qwa"))).cast("decimal(38,0)").alias("swa"),
        F.sum(_d38(F.col("qwb"))).cast("decimal(38,0)").alias("swb"),
        F.sum(_d38(F.col("qwa")) * _d38(F.col("qwa")))
        .cast("decimal(38,0)")
        .alias("gwaa"),
        F.sum(_d38(F.col("qwa")) * _d38(F.col("qwb")))
        .cast("decimal(38,0)")
        .alias("gwab"),
        F.sum(_d38(F.col("qwb")) * _d38(F.col("qwb")))
        .cast("decimal(38,0)")
        .alias("gwbb"),
    )
    out = (
        solved.join(schur, "blk")
        .join(wstats, "blk")
        .select(
            F.col("blk").cast("bigint").alias("blk"),
            (F.lit(2) * F.col("blk") - 1).cast("bigint").alias("dim_a"),
            (F.lit(2) * F.col("blk")).cast("bigint").alias("dim_b"),
            F.col("n").cast("bigint").alias("n_vectors"),
            F.col("beta_nano").cast("bigint").alias("beta_nano"),
            F.col("var_a_micro").cast("bigint").alias("var_a_micro"),
            F.col("var_zb_micro").cast("bigint").alias("var_zb_micro"),
            (
                F.lit(1.0)
                / F.sqrt(
                    (F.col("var_a_micro") + _d38(F.lit(1))).cast("double")
                    / F.lit(1000000.0)
                )
            ).alias("w_scale_a"),
            (
                F.lit(1.0)
                / F.sqrt(
                    (F.col("var_zb_micro") + _d38(F.lit(1))).cast("double")
                    / F.lit(1000000.0)
                )
            ).alias("w_scale_b"),
            _cov_micro(
                _d38(F.col("wn")) * _d38(F.col("gwaa"))
                - _d38(F.col("swa")) * _d38(F.col("swa")),
                F.col("wn"),
            )
            .cast("bigint")
            .alias("var_wa_micro"),
            _cov_micro(
                _d38(F.col("wn")) * _d38(F.col("gwab"))
                - _d38(F.col("swa")) * _d38(F.col("swb")),
                F.col("wn"),
            )
            .cast("bigint")
            .alias("cov_w_micro"),
            _cov_micro(
                _d38(F.col("wn")) * _d38(F.col("gwbb"))
                - _d38(F.col("swb")) * _d38(F.col("swb")),
                F.col("wn"),
            )
            .cast("bigint")
            .alias("var_wb_micro"),
        )
    )
    # whitened-identity contract (q373's 0.02, executed in-plan)
    checked = contract_filter(
        out,
        (F.abs(F.col("var_wa_micro") - F.lit(1000000)) <= F.lit(_IDENT_TOL_MICRO))
        & (F.abs(F.col("var_wb_micro") - F.lit(1000000)) <= F.lit(_IDENT_TOL_MICRO))
        & (F.abs(F.col("cov_w_micro")) <= F.lit(_IDENT_TOL_MICRO)),
        F.concat(
            F.lit("q433 whitened block off identity at blk "),
            F.col("blk").cast("string"),
            F.lit(": var_a="),
            F.col("var_wa_micro").cast("string"),
            F.lit(" var_b="),
            F.col("var_wb_micro").cast("string"),
            F.lit(" cov="),
            F.col("cov_w_micro").cast("string"),
        ),
    )
    return checked.orderBy("blk")


# ---------------------------------------------------------------------------
# q434 — update-mode ledger maintenance over the bucketed layout
# (VERDICT r12 item 7; design in the module docstring). Rows-only:
# stateful streaming has no SQL oracle; verification is (1) the
# full-outer key-for-key batch-equivalence contract, executed
# in-plan, (2) the re-emission contract (some fingerprint folded
# across >= 2 micro-batches), (3) the zero-fp-exchange plan audit in
# tests/test_plans.py (BOTH the streamed update log and the batch
# op log are read back fingerprint-bucketed, so the merge fold, the
# batch fold, and the audit join are all bucket-local), and (4) the
# pure-Python replay in tests/test_round13_independent.py.
# ---------------------------------------------------------------------------
@query("q434_update_mode_ledger")
def q434_update_mode_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import glob
    import hashlib
    import os
    import re
    import shutil
    import tempfile

    from pyspark.sql import Window

    from pipeline_usnvc_spark.operators.contracts import contract_filter
    from pipeline_usnvc_spark.plans.round11_queries import _ledger_oplog
    from pipeline_usnvc_spark.streaming.pipeline import run_stream_to_memory

    oplog = _ledger_oplog(spark, sf_dir)  # (doc_id, batch, fp)
    # four deterministic slices, one per ledger batch -> four
    # micro-batches (the q432 one-pass partitionBy split; explicit
    # raise per ADVICE r12)
    tmp = tempfile.mkdtemp(prefix="q434_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    src = f"{tmp}/src"
    os.makedirs(src)
    parts = f"{tmp}/parts"
    (
        oplog.withColumn("slice", F.col("batch").cast("int"))
        .repartition(4, "slice")
        .write.partitionBy("slice")
        .parquet(parts)
    )
    for i in range(4):
        found = glob.glob(f"{parts}/slice={i}/part-*.parquet")
        if len(found) != 1:
            raise RuntimeError(f"slice {i}: expected one file, got {found}")
        os.rename(found[0], f"{src}/batch{i}.parquet")
    shutil.rmtree(parts)
    stream = (
        spark.readStream.schema("doc_id bigint, batch bigint, fp string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # the per-fingerprint MERGE fold as a streaming aggregation —
    # min/count are mergeable, update mode emits only changed keys
    fold = stream.groupBy("fp").agg(
        F.min("batch").alias("first_batch"),
        F.min("doc_id").alias("canonical"),
        F.count("*").cast("bigint").alias("n_docs"),
    )
    updates = run_stream_to_memory(
        fold, "q434_ledger_updates", output_mode="update"
    )
    # persist BOTH the update log and the batch op log bucketed by
    # fingerprint (q431's external-table machinery, including the
    # sf_dir salt + metastore drop from ADVICE r12): every fp-grain
    # stage below reads the stored layout exchange-free
    spark.sql(
        "CREATE DATABASE IF NOT EXISTS bucketed_demo "
        "LOCATION '/tmp/pipeline_usnvc_spark_bucketed_demo_db'"
    )
    app = spark.sparkContext.applicationId.replace("-", "_")
    tag = (
        re.sub(r"[^A-Za-z0-9]+", "_", sf_dir.strip("/"))[-40:]
        + "_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    )
    base = f"/tmp/pipeline_usnvc_spark_ledger_upd_{app}_{tag}"
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    tables = {}
    for key, frame in (("upd", updates), ("ops", oplog)):
        name = f"bucketed_demo.ledger_{key}_{app}_{tag}"

        def _drop_table(n=name) -> None:
            try:
                spark.sql(f"DROP TABLE IF EXISTS {n}")
            except Exception:
                pass

        atexit.register(_drop_table)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            frame.repartition(8, "fp")  # the write-time exchange, paid once
            .write.bucketBy(8, "fp")
            .sortBy("fp")
            .option("path", f"{base}/{key}")
            .mode("overwrite")
            .saveAsTable(name)
        )
        tables[key] = spark.table(name)
    # downstream MERGE: per fingerprint, the emission with the largest
    # n_docs is the final state (counts strictly increase across a
    # key's re-emissions — update mode only emits a key when new ops
    # arrived for it), and the emission count IS the key's distinct
    # batch count (one trigger = one ledger batch)
    merged = (
        tables["upd"]
        .groupBy("fp")
        .agg(
            F.max_by(
                F.struct("first_batch", "canonical"), F.col("n_docs")
            ).alias("s"),
            F.max("n_docs").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_emissions"),
        )
        .select("fp", "s.*", "n_docs", "n_emissions")
    )
    batch_fold = (
        tables["ops"]
        .groupBy("fp")
        .agg(
            F.min("batch").alias("b_first"),
            F.min("doc_id").alias("b_canonical"),
            F.count("*").cast("bigint").alias("b_n_docs"),
        )
        .withColumnRenamed("fp", "b_fp")
    )
    audit = merged.join(
        batch_fold, merged["fp"] == batch_fold["b_fp"], "full_outer"
    )
    ok = (
        F.col("fp").isNotNull()
        & F.col("b_fp").isNotNull()
        & (F.col("first_batch") == F.col("b_first"))
        & (F.col("canonical") == F.col("b_canonical"))
        & (F.col("n_docs") == F.col("b_n_docs"))
    )
    checked = contract_filter(
        audit,
        ok,
        F.concat(
            F.lit("update-mode ledger divergence for fp "),
            F.coalesce(F.col("fp"), F.col("b_fp")),
        ),
    ).select("fp", "first_batch", "canonical", "n_docs", "n_emissions")
    multi = checked.agg(
        F.max("n_emissions").cast("bigint").alias("max_emissions")
    )
    checked = contract_filter(
        checked.crossJoin(F.broadcast(multi)),
        F.col("max_emissions") >= 2,
        F.lit("update mode never re-emitted: source collapsed to one batch"),
    ).drop("max_emissions")
    # first-batch-grain compaction rollup (q427's summary shape):
    # n_emissions == per-key distinct batches, so the log/snapshot
    # reclaim reads directly off the merged state
    per_batch = checked.groupBy(F.col("first_batch").alias("batch")).agg(
        F.count("*").cast("bigint").alias("new_keys"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("n_emissions") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_multi_emit_keys"),
        F.sum("n_emissions").cast("bigint").alias("n_emissions"),
    )
    summary = checked.agg(
        F.sum("n_emissions").cast("bigint").alias("log_rows_total"),
        F.count("*").cast("bigint").alias("snapshot_rows"),
    )
    w = Window.orderBy("batch").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_batch.withColumn(
            "cum_keys", F.sum("new_keys").over(w).cast("bigint")
        )
        .crossJoin(F.broadcast(summary))
        .select(
            "batch",
            "new_keys",
            "n_docs",
            "n_multi_emit_keys",
            "n_emissions",
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


# ---------------------------------------------------------------------------
# Portable HLL (q435/q436): the engine-exact companion of the
# Datasketches sketch family (q100/q212/q71/q372), the q433 pattern
# applied to cardinality sketching. Spark's hll_sketch_agg is a
# black-box binary whose estimate no other engine reproduces, so
# those queries are rows-only; THIS register machinery is pure
# integer arithmetic on md5 bits — register index = low 6 bits of a
# 60-bit md5 prefix, rho = leading-zero rank of the remaining 54-bit
# window, registers fold by MAX (associative/commutative — the
# mergeability that makes sketches the 100 TB answer), the harmonic
# sum folds EXACTLY as dyadic rationals scaled by 2^55 into a BIGINT
# (max 64 * 2^55 = 2^61), and the raw HLL estimate is ONE literal /
# CAST(S AS DOUBLE) division per engine. Everything hash-oracles.
# Flajolet et al. (AofA 2007) small-range correction needs ln() —
# NOT correctly rounded, engine-divergent — so the estimate stays in
# the raw regime by contract: the 3*rsd accuracy bound is enforced
# only where exact > 5*m (the raw-regime floor), explicit in the
# in_raw_regime column.
# ---------------------------------------------------------------------------
_HLL_M = 64  # registers (6 index bits); rsd = 1.04/8 = 13%
_HLL_SHIFT = 55  # dyadic scale: rho in [1..55], empty register M=0
_HLL_ALPHA_NUM = (0.7213 / (1.0 + 1.079 / _HLL_M)) * float(_HLL_M * _HLL_M) * float(
    2**_HLL_SHIFT
)  # one double literal, computed once here, embedded in BOTH plans
_HLL_RAW_FLOOR = 5 * _HLL_M  # exact > 320 => raw-regime accuracy applies
_HLL_3RSD = 3.0 * 1.04 / 8.0


def _hll_reg_spark(df: DataFrame) -> DataFrame:
    """(event_type, day, idx, rho) — one register observation per
    event row, exact integer arithmetic (see family comment)."""
    return df.select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.expr(
            "cast(conv(substring(md5(cast(user_id as string)), 1, 15), 16, 10)"
            " as bigint)"
        ).alias("h"),
    ).select(
        "event_type",
        "day",
        F.expr("h % 64").alias("idx"),
        F.expr(
            "cast(case when h div 64 = 0 then 55"
            " else 55 - length(conv(cast(h div 64 as string), 10, 2))"
            " end as bigint)"
        ).alias("rho"),
    )


_HLL_REG_SQL = """
        SELECT event_type, CAST(ts AS DATE) AS day,
               h % 64 AS idx,
               CAST(CASE WHEN h // 64 = 0 THEN 55
                    ELSE 55 - length(bin(h // 64)) END AS BIGINT) AS rho
        FROM (
            SELECT event_type, ts,
                   CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                        AS BIGINT) AS h
            FROM events
        )
"""


def _q435_oracle() -> str:
    return f"""
    WITH reg AS MATERIALIZED ({_HLL_REG_SQL}),
    direct AS (
        SELECT event_type, idx, max(rho) AS m FROM reg GROUP BY 1, 2
    ),
    daily AS (
        SELECT event_type, day, idx, max(rho) AS md FROM reg GROUP BY 1, 2, 3
    ),
    merged AS (
        SELECT event_type, idx, max(md) AS m FROM daily GROUP BY 1, 2
    ),
    mism AS (
        SELECT CAST(count(*) AS BIGINT) AS n_merge_mismatch
        FROM direct d FULL JOIN merged g USING (event_type, idx)
        WHERE d.m IS DISTINCT FROM g.m
    ),
    spine AS (
        SELECT t.event_type, r.range AS idx
        FROM (SELECT DISTINCT event_type FROM events) t, range(64) r
    ),
    dense AS (
        SELECT s.event_type, s.idx, coalesce(d.m, 0) AS m
        FROM spine s LEFT JOIN direct d
          ON d.event_type = s.event_type AND d.idx = s.idx
    ),
    harm AS (
        SELECT event_type,
               CAST(sum(CAST(1 AS BIGINT) << CAST(55 - m AS INT)) AS BIGINT)
                   AS s_dyadic,
               CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_zero_registers
        FROM dense GROUP BY 1
    ),
    base AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
        FROM events GROUP BY 1
    )
    SELECT b.event_type, b.n_events, b.exact_users,
           {_HLL_ALPHA_NUM!r} / CAST(h.s_dyadic AS DOUBLE) AS hll_estimate,
           h.s_dyadic, h.n_zero_registers,
           b.exact_users > {_HLL_RAW_FLOOR} AS in_raw_regime,
           m.n_merge_mismatch
    FROM base b
    JOIN harm h ON h.event_type = b.event_type
    CROSS JOIN mism m
    ORDER BY b.event_type
    """


# ---------------------------------------------------------------------------
# q435 — portable-HLL mergeable distinct (the q100 companion): the
# same per-type sketch, rebuilt from engine-portable registers, with
# the MERGE path certified exactly — per-day sketches fold by
# register-wise max and the contract asserts the merged register
# table is IDENTICAL to the direct one (integer equality, not an
# error bound), plus the conditional raw-regime accuracy bound
# (exact > 5m => |est/exact - 1| <= 3*rsd). Hash-green at 3 SFs —
# the estimate itself is compared bit-for-bit across engines.
# ---------------------------------------------------------------------------
@query("q435_portable_hll_merge", oracle=_q435_oracle())
def q435_portable_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.contracts import contract_filter

    from pipeline_usnvc_spark.operators.checkpoint import materialize

    ev = load_table(spark, sf_dir, "events")
    # register observations checkpointed ONCE: direct/daily/merged all
    # fold the same slim (type, day, idx, rho) frame — without this
    # the raw events scan runs once per consumer (plan audit found 10
    # scans; at 100 TB the register extraction is the one pass that
    # should ever touch raw events)
    reg = materialize(_hll_reg_spark(ev))
    direct = reg.groupBy("event_type", "idx").agg(F.max("rho").alias("m"))
    daily = reg.groupBy("event_type", "day", "idx").agg(F.max("rho").alias("md"))
    merged = daily.groupBy("event_type", "idx").agg(F.max("md").alias("m2"))
    mism = (
        direct.join(merged, ["event_type", "idx"], "full_outer")
        .filter(~F.col("m").eqNullSafe(F.col("m2")))
        .agg(F.count("*").cast("bigint").alias("n_merge_mismatch"))
    )
    spine = (
        reg.select("event_type")
        .distinct()
        .select("event_type", F.explode(F.sequence(F.lit(0), F.lit(63))).alias("_i"))
        .select("event_type", F.col("_i").cast("bigint").alias("idx"))
    )
    dense = spine.join(direct, ["event_type", "idx"], "left").select(
        "event_type", "idx", F.coalesce("m", F.lit(0)).cast("bigint").alias("m")
    )
    harm = dense.groupBy("event_type").agg(
        F.expr(
            "cast(sum(shiftleft(cast(1 as bigint), cast(55 - m as int))) as bigint)"
        ).alias("s_dyadic"),
        F.sum(F.when(F.col("m") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero_registers"),
    )
    base = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("exact_users"),
    )
    out = (
        base.join(harm, "event_type")
        .crossJoin(F.broadcast(mism))
        .select(
            "event_type",
            "n_events",
            "exact_users",
            (F.lit(_HLL_ALPHA_NUM) / F.col("s_dyadic").cast("double")).alias(
                "hll_estimate"
            ),
            "s_dyadic",
            "n_zero_registers",
            (F.col("exact_users") > F.lit(_HLL_RAW_FLOOR)).alias("in_raw_regime"),
            "n_merge_mismatch",
        )
    )
    checked = contract_filter(
        out,
        (F.col("n_merge_mismatch") == 0)
        & (
            ~F.col("in_raw_regime")
            | (
                F.abs(
                    F.col("hll_estimate") / F.col("exact_users").cast("double")
                    - F.lit(1.0)
                )
                <= F.lit(_HLL_3RSD)
            )
        ),
        F.concat(
            F.lit("portable-HLL contract violated for type "), F.col("event_type")
        ),
    )
    return checked.orderBy("event_type")

def _q436_oracle() -> str:
    return f"""
    WITH reg AS MATERIALIZED ({_HLL_REG_SQL}),
    daily AS (
        SELECT day, idx, max(rho) AS md FROM reg GROUP BY 1, 2
    ),
    days AS (SELECT DISTINCT day FROM daily),
    spine AS (
        SELECT d.day, d.day - DATE '1970-01-01' AS day_num, r.range AS idx
        FROM days d, range(64) r
    ),
    dense AS (
        SELECT s.day, s.day_num, s.idx, coalesce(dl.md, 0) AS md
        FROM spine s LEFT JOIN daily dl ON dl.day = s.day AND dl.idx = s.idx
    ),
    rolled AS (
        SELECT day, day_num, idx,
               max(md) OVER (PARTITION BY idx ORDER BY day_num
                             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS m
        FROM dense
    ),
    harm AS (
        SELECT day,
               CAST(sum(CAST(1 AS BIGINT) << CAST(55 - m AS INT)) AS BIGINT)
                   AS s_dyadic,
               CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_zero_registers
        FROM rolled GROUP BY 1
    ),
    exact AS (
        SELECT d.day, CAST(count(DISTINCT e.user_id) AS BIGINT) AS wau_exact
        FROM days d JOIN (SELECT user_id, CAST(ts AS DATE) AS day FROM events) e
          ON e.day BETWEEN d.day - 6 AND d.day
        GROUP BY 1
    )
    SELECT CAST(h.day AS VARCHAR) AS day, x.wau_exact,
           {_HLL_ALPHA_NUM!r} / CAST(h.s_dyadic AS DOUBLE) AS wau_hll,
           h.s_dyadic, h.n_zero_registers,
           x.wau_exact > {_HLL_RAW_FLOOR} AS in_raw_regime
    FROM harm h JOIN exact x ON x.day = h.day
    ORDER BY h.day
    """


# ---------------------------------------------------------------------------
# q436 — portable-HLL rolling 7-day actives (the q212 companion, on
# q205's exact-WAU shape): per-day register sketches (64 BIGINTs per
# day — the KB-sized state that replaces re-scanning a week of raw
# events at 100 TB), rolling union = register-wise max over a RANGE
# window on the dense (day x register) spine, then the same exact
# dyadic harmonic fold and single-division estimate as q435.
# Hash-green at 3 SFs; the conditional raw-regime accuracy contract
# (3*rsd vs the exact windowed count-distinct) executes in-plan.
# ---------------------------------------------------------------------------
@query("q436_portable_rolling_hll", oracle=_q436_oracle())
def q436_portable_rolling_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.contracts import contract_filter

    from pipeline_usnvc_spark.operators.checkpoint import materialize

    ev = load_table(spark, sf_dir, "events")
    # day-grain registers checkpointed (30 days x 64 slim rows): the
    # spine, dense join and exact-WAU reference otherwise each
    # re-derive them from a fresh raw-events scan
    daily = materialize(
        _hll_reg_spark(ev)
        .groupBy("day", "idx")
        .agg(F.max("rho").alias("md"))
    )
    days = daily.select("day").distinct()
    spine = (
        days.select("day", F.explode(F.sequence(F.lit(0), F.lit(63))).alias("_i"))
        .select(
            "day",
            F.datediff("day", F.lit("1970-01-01").cast("date")).cast("bigint").alias(
                "day_num"
            ),
            F.col("_i").cast("bigint").alias("idx"),
        )
    )
    dense = spine.join(daily, ["day", "idx"], "left").select(
        "day", "day_num", "idx", F.coalesce("md", F.lit(0)).cast("bigint").alias("md")
    )
    w = (
        Window.partitionBy("idx")
        .orderBy("day_num")
        .rangeBetween(-6, Window.currentRow)
    )
    rolled = dense.select("day", "idx", F.max("md").over(w).alias("m"))
    harm = rolled.groupBy("day").agg(
        F.expr(
            "cast(sum(shiftleft(cast(1 as bigint), cast(55 - m as int))) as bigint)"
        ).alias("s_dyadic"),
        F.sum(F.when(F.col("m") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero_registers"),
    )
    # exact 7-day actives: day-spine range join (q205's exact shape) —
    # verification-only cost, the production path is the sketch fold
    e_day = ev.select("user_id", F.to_date("ts").alias("e_day"))
    exact = (
        days.join(
            e_day,
            (F.col("e_day") >= F.date_sub(F.col("day"), 6))
            & (F.col("e_day") <= F.col("day")),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau_exact"))
    )
    out = harm.join(exact, "day").select(
        F.col("day").cast("string").alias("day"),
        "wau_exact",
        (F.lit(_HLL_ALPHA_NUM) / F.col("s_dyadic").cast("double")).alias("wau_hll"),
        "s_dyadic",
        "n_zero_registers",
        (F.col("wau_exact") > F.lit(_HLL_RAW_FLOOR)).alias("in_raw_regime"),
    )
    checked = contract_filter(
        out,
        ~F.col("in_raw_regime")
        | (
            F.abs(F.col("wau_hll") / F.col("wau_exact").cast("double") - F.lit(1.0))
            <= F.lit(_HLL_3RSD)
        ),
        F.concat(F.lit("portable rolling-HLL contract violated on "), F.col("day")),
    )
    return checked.orderBy("day")


# ---------------------------------------------------------------------------
# q437 — integer-exact Lloyd k-means probe: the q433 pattern applied
# to the clustering family (q63 IVF / q132 k-means / q65 PQ stay
# rows-only because their centroid UPDATE is a distributed float mean
# — order-dependent summation no other engine replays). This
# companion certifies the SAME numeric path — seed, assign by
# squared-L2 argmin, update, re-assign — at a grain where every step
# is exact: components quantize to floor(x*1e7) int64 (the suite
# discipline), distances are integer sums (|q|<=6e6, 64 dims ->
# <=9e15, inside BIGINT), the argmin tie-breaks on (dist, cluster),
# and the updated centroid is the sign-correct floor-quantized mean
# floor(sum(q)/n) via _sfdiv — so two full Lloyd iterations unroll as
# chained CTEs and hash-oracle end-to-end. Output is cluster-grain
# (sizes, inertia vs the iter-1 centroids, id range, centroid
# checksum) with a partition-completeness contract (every vector
# assigned exactly once) executed in-plan.
#
# Scale shape: the centroid frame is k x 64 rows (broadcast); the
# corpus-side work per iteration is one equi-join on dim + one
# groupBy(vec, cluster) + one argmin window — never an all-pairs.
# ---------------------------------------------------------------------------
_KM_K = 8
_KM_SHIFT = 10**8  # > |sum(q)|/n <= max|q| ~ 6e6


def _q437_oracle() -> str:
    upd = _sfdiv_sql("sum(m.q)", "count(*)", _KM_SHIFT)
    return f"""
    WITH comps AS MATERIALIZED (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000000)
                    AS BIGINT) AS q
        FROM embeddings
    ),
    seeds AS (
        SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
        FROM (SELECT DISTINCT vec_id FROM embeddings ORDER BY vec_id LIMIT {_KM_K})
    ),
    c0 AS MATERIALIZED (
        SELECT s.c, m.d, m.q AS cd FROM seeds s JOIN comps m USING (vec_id)
    ),
    d1 AS MATERIALIZED (
        SELECT m.vec_id, c.c,
               CAST(sum((m.q - c.cd) * (m.q - c.cd)) AS BIGINT) AS dist
        FROM comps m JOIN c0 c USING (d) GROUP BY 1, 2
    ),
    a1 AS MATERIALIZED (
        SELECT vec_id, c, dist FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dist, c) AS rn
            FROM d1
        ) WHERE rn = 1
    ),
    c1 AS MATERIALIZED (
        SELECT a.c, m.d, CAST({upd} AS BIGINT) AS cd
        FROM a1 a JOIN comps m USING (vec_id) GROUP BY a.c, m.d
    ),
    d2 AS MATERIALIZED (
        SELECT m.vec_id, c.c,
               CAST(sum((m.q - c.cd) * (m.q - c.cd)) AS BIGINT) AS dist
        FROM comps m JOIN c1 c USING (d) GROUP BY 1, 2
    ),
    a2 AS MATERIALIZED (
        SELECT vec_id, c, dist FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dist, c) AS rn
            FROM d2
        ) WHERE rn = 1
    ),
    c2 AS MATERIALIZED (
        SELECT a.c, m.d, CAST({upd} AS BIGINT) AS cd
        FROM a2 a JOIN comps m USING (vec_id) GROUP BY a.c, m.d
    ),
    per AS (
        SELECT c, CAST(count(*) AS BIGINT) AS n_members,
               CAST(sum(dist) AS BIGINT) AS inertia,
               min(vec_id) AS min_vec_id, max(vec_id) AS max_vec_id
        FROM a2 GROUP BY 1
    ),
    chk AS (
        SELECT c, CAST(sum(cd * (d + 1)) AS BIGINT) AS centroid_checksum
        FROM c2 GROUP BY 1
    ),
    tot AS (
        SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vectors,
               CAST((SELECT count(*) FROM a2) AS BIGINT) AS n_assigned
        FROM embeddings
    )
    SELECT CAST(p.c AS BIGINT) AS c, p.n_members, p.inertia,
           p.min_vec_id, p.max_vec_id, k.centroid_checksum,
           t.n_vectors, t.n_assigned
    FROM per p JOIN chk k USING (c) CROSS JOIN tot t
    ORDER BY p.c
    """


@query("q437_integer_kmeans_probe", oracle=_q437_oracle())
def q437_integer_kmeans_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.functions.vectors import to_double_array
    from pipeline_usnvc_spark.operators.checkpoint import materialize
    from pipeline_usnvc_spark.operators.contracts import contract_filter

    emb = load_table(spark, sf_dir, "embeddings")
    # r14 reshape (guide §2.3/§2.4): the old (vec, dim) exploded
    # component table paid, per Lloyd step, one n x k exchange for the
    # distance groupBy plus a second exchange + sort for the
    # window-argmin, with an eager checkpoint barrier between the two
    # steps (26 jobs, every stage < 0.2 s — pure orchestration).
    # Vector-ARRAY form instead: the assignment is entirely map-side
    # (argmin over a broadcast k x d centroid row via array_min of
    # (dist, c) structs — lexicographic struct order IS the
    # (dist, c) tie-break), and the only exchanges left are the
    # (c, d)-grain centroid updates, which partial-aggregate map-side
    # to <= k*d rows per task. Same integers end-to-end: floor(x*1e7)
    # quantization, bigint squared-L2, _sfdiv floor mean.
    # (fan_out on the one-row-group local scan was tried and measured
    # SLOWER — 32 tasks of ~60 rows pay more scheduling than the 0.2 s
    # single-task interpreted pass costs; at scale real inputs arrive
    # split and the passes parallelize by themselves.)
    qarr = materialize(
        emb.select(
            "vec_id",
            F.transform(
                to_double_array("embedding"),
                lambda x: F.floor(x * F.lit(10000000.0)).cast("bigint"),
            ).alias("q"),
        )
    )
    # Centroids cross the driver as plain Python integers: k*d = 512
    # values per Lloyd step — bounded by (clusters x dimension), never
    # by the corpus (the bounded-collect discipline of the BPE top-1
    # and the q363 kernel scalars). The broadcast-frame formulation
    # paid four extra exchanges per step (repack aggregations + the
    # broadcast), each a single-task AQE stage-job of pure latency.
    def lloyd_pass(cents: list[tuple[int, list[int]]]) -> DataFrame:
        """One assign+update pass as an Arrow kernel with in-kernel
        map-side combine (the q196 gram-kernel shape, guide §4.2):
        per task, numpy computes the exact int64 squared-L2 argmin
        (|q|^2 - 2 q·c + |c|^2 — the expanded form is the same int64
        value as the per-dim fold) and emits one (c, d)-grain partial
        row block, so the shuffle is k*d rows per task at any corpus
        size. argmin ties resolve to the FIRST index = lowest c
        (cents sorted ascending) — the ORDER BY dist, c contract.
        The interpreted-HOF fold this replaces cost ~0.2 s per pass
        at sf0.1 (Catalyst evaluates array lambdas per element)."""
        import numpy as np
        import pandas as pd

        cents = sorted(cents)
        cidx = [int(c) for c, _ in cents]
        C = np.array([cd for _, cd in cents], dtype=np.int64)  # (k, d)
        cn2 = (C * C).sum(axis=1)

        def batches(it):
            acc: dict[int, list] = {}
            for pdf in it:
                if not len(pdf):
                    continue
                # a null, ragged or null-component row has no defined
                # assignment; casting its NaN to int64 would be garbage
                Q = np.stack(
                    [
                        r if r is not None and len(r) == C.shape[1] else np.full(C.shape[1], np.nan)
                        for r in pdf["q"].to_numpy()
                    ]
                ).astype(np.float64)
                if not np.isfinite(Q).all():
                    from pipeline_usnvc_spark.operators.contracts import MalformedInputError

                    raise MalformedInputError(
                        "k-means Lloyd pass: a quantized embedding is null, ragged "
                        "or has a null component"
                    )
                Q = Q.astype(np.int64)
                ids = pdf["vec_id"].to_numpy()
                qn2 = (Q * Q).sum(axis=1)
                dists = qn2[:, None] - 2 * (Q @ C.T) + cn2[None, :]
                a = dists.argmin(axis=1)
                dmin = dists[np.arange(len(Q)), a]
                for j, c in enumerate(cidx):
                    m = a == j
                    if not m.any():
                        continue
                    part = [
                        Q[m].sum(axis=0),
                        int(m.sum()),
                        int(dmin[m].sum()),
                        int(ids[m].min()),
                        int(ids[m].max()),
                    ]
                    st = acc.get(c)
                    if st is None:
                        acc[c] = part
                    else:
                        st[0] = st[0] + part[0]
                        st[1] += part[1]
                        st[2] += part[2]
                        st[3] = min(st[3], part[3])
                        st[4] = max(st[4], part[4])
            if acc:
                dim = C.shape[1]
                yield pd.DataFrame(
                    {
                        "c": np.repeat(list(acc), dim).astype("int64"),
                        "d": np.tile(np.arange(dim, dtype="int64"), len(acc)),
                        "sq": np.concatenate([st[0] for st in acc.values()]),
                        "n": np.repeat([st[1] for st in acc.values()], dim).astype("int64"),
                        "sdist": np.repeat([st[2] for st in acc.values()], dim).astype("int64"),
                        "mnv": np.repeat([st[3] for st in acc.values()], dim).astype("int64"),
                        "mxv": np.repeat([st[4] for st in acc.values()], dim).astype("int64"),
                    }
                )

        return qarr.mapInPandas(
            batches,
            schema="c long, d long, sq long, n long, sdist long, mnv long, mxv long",
        )

    def final_agg(partials: DataFrame) -> DataFrame:
        """(c, d)-grain reduction of the kernel partials: the floor
        mean (_sfdiv — identical to the per-row formulation because
        sum-of-partial-sums is the same bigint) plus the per-cluster
        scalars, which repeat across a cluster's d rows."""
        return partials.groupBy("c", "d").agg(
            _sfdiv(F.sum("sq"), F.sum("n"), _KM_SHIFT).cast("bigint").alias("cd"),
            F.sum("n").cast("bigint").alias("n_members"),
            F.sum("sdist").cast("bigint").alias("inertia"),
            F.min("mnv").alias("min_vec_id"),
            F.max("mxv").alias("max_vec_id"),
        )

    # k seed centroids = the k lowest vec_ids' vectors (bounded: k rows)
    c0 = [
        (i, list(r["q"]))
        for i, r in enumerate(
            sorted(
                qarr.orderBy("vec_id").limit(_KM_K).collect(),
                key=lambda r: r["vec_id"],
            )
        )
    ]
    # Lloyd step 1: one kernel pass; the k*d update comes back to the
    # driver as the next step's centroid list.
    by_c: dict[int, dict[int, int]] = {}
    for r in final_agg(lloyd_pass(c0)).collect():  # bounded: k*d rows
        by_c.setdefault(r["c"], {})[r["d"]] = r["cd"]
    c1 = [(c, [ds[d] for d in sorted(ds)]) for c, ds in by_c.items()]
    # Lloyd step 2: ONE combined (c, d)-grain stats pass feeds every
    # final consumer (per-cluster stats, centroid checksum, totals).
    # Materialized: k*d rows, three consumers below.
    stats = materialize(final_agg(lloyd_pass(c1)))
    # ONE aggregation produces both the per-cluster scalars (constant
    # across a cluster's d rows — min() reads them off) and the
    # checksum: no per-x-chk join, one exchange over the k*d checkpoint.
    per = stats.groupBy("c").agg(
        F.min("n_members").alias("n_members"),
        F.min("inertia").alias("inertia"),
        F.min("min_vec_id").alias("min_vec_id"),
        F.max("max_vec_id").alias("max_vec_id"),
        F.sum(F.col("cd") * (F.col("d") + 1))
        .cast("bigint")
        .alias("centroid_checksum"),
    )
    tot = qarr.agg(
        F.countDistinct("vec_id").cast("bigint").alias("n_vectors")
    ).crossJoin(
        F.broadcast(
            stats.filter(F.col("d") == 0)
            .agg(F.sum("n_members").cast("bigint").alias("n_assigned"))
        )
    )
    out = (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("c").cast("bigint").alias("c"),
            "n_members",
            "inertia",
            "min_vec_id",
            "max_vec_id",
            "centroid_checksum",
            "n_vectors",
            "n_assigned",
        )
    )
    return contract_filter(
        out,
        F.col("n_assigned") == F.col("n_vectors"),
        F.lit("k-means partition incomplete: a vector is unassigned or double-assigned"),
    ).orderBy("c")


def _q438_oracle() -> str:
    est = f"{_HLL_ALPHA_NUM!r} / CAST({{}} AS DOUBLE)"
    return f"""
    WITH reg AS MATERIALIZED ({_HLL_REG_SQL}),
    direct AS (
        SELECT event_type, idx, max(rho) AS m FROM reg GROUP BY 1, 2
    ),
    spine AS (
        SELECT t.event_type, r.range AS idx
        FROM (SELECT DISTINCT event_type FROM events) t, range(64) r
    ),
    dense AS (
        SELECT s.event_type, s.idx, coalesce(d.m, 0) AS m
        FROM spine s LEFT JOIN direct d
          ON d.event_type = s.event_type AND d.idx = s.idx
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b, a.idx,
               a.m AS ma, b.m AS mb, greatest(a.m, b.m) AS mu
        FROM dense a JOIN dense b
          ON a.idx = b.idx AND a.event_type < b.event_type
    ),
    harm AS (
        SELECT type_a, type_b,
               CAST(sum(CAST(1 AS BIGINT) << CAST(55 - ma AS INT)) AS BIGINT)
                   AS s_a,
               CAST(sum(CAST(1 AS BIGINT) << CAST(55 - mb AS INT)) AS BIGINT)
                   AS s_b,
               CAST(sum(CAST(1 AS BIGINT) << CAST(55 - mu AS INT)) AS BIGINT)
                   AS s_union
        FROM pairs GROUP BY 1, 2
    ),
    users AS (
        SELECT DISTINCT event_type, user_id FROM events
    ),
    exact AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(DISTINCT a.user_id) AS BIGINT) AS exact_intersection
        FROM users a JOIN users b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    ),
    eu AS (
        SELECT a.type_a, a.type_b,
               CAST(count(DISTINCT u.user_id) AS BIGINT) AS exact_union
        FROM (SELECT DISTINCT type_a, type_b FROM harm) a
        JOIN users u ON u.event_type IN (a.type_a, a.type_b)
        GROUP BY 1, 2
    )
    SELECT h.type_a, h.type_b, h.s_union,
           {est.format("h.s_a")} AS est_a,
           {est.format("h.s_b")} AS est_b,
           {est.format("h.s_union")} AS est_union,
           {est.format("h.s_a")} + {est.format("h.s_b")}
               - {est.format("h.s_union")} AS est_intersection,
           x.exact_intersection, u.exact_union,
           u.exact_union > {_HLL_RAW_FLOOR} AS in_raw_regime
    FROM harm h
    JOIN exact x ON x.type_a = h.type_a AND x.type_b = h.type_b
    JOIN eu u ON u.type_a = h.type_a AND u.type_b = h.type_b
    ORDER BY h.type_a, h.type_b
    """


# ---------------------------------------------------------------------------
# q438 — portable-HLL set algebra (the q372 companion): pairwise
# union/intersection estimates over the per-type register sketches by
# register-wise max + inclusion-exclusion (est_A + est_B - est_AB),
# exactly q372's sketch algebra but on the engine-portable registers,
# so every estimate — including the composed intersection — is
# bit-identical across engines and hash-oracles. Exact intersection /
# union counts ride along (verification-only user-grain joins); the
# conditional raw-regime accuracy contract bounds the UNION estimate
# (the only directly-sketched quantity — inclusion-exclusion error
# compounds, as q372's three-estimate budget documents).
# ---------------------------------------------------------------------------
@query("q438_portable_hll_setops", oracle=_q438_oracle())
def q438_portable_hll_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pipeline_usnvc_spark.operators.contracts import contract_filter

    from pipeline_usnvc_spark.operators.checkpoint import materialize

    ev = load_table(spark, sf_dir, "events")
    reg = materialize(_hll_reg_spark(ev))
    direct = reg.groupBy("event_type", "idx").agg(F.max("rho").alias("m"))
    spine = (
        reg.select("event_type")
        .distinct()
        .select("event_type", F.explode(F.sequence(F.lit(0), F.lit(63))).alias("_i"))
        .select("event_type", F.col("_i").cast("bigint").alias("idx"))
    )
    dense = spine.join(direct, ["event_type", "idx"], "left").select(
        "event_type", "idx", F.coalesce("m", F.lit(0)).cast("bigint").alias("m")
    )
    a = dense.select(
        F.col("event_type").alias("type_a"), "idx", F.col("m").alias("ma")
    )
    b = dense.select(
        F.col("event_type").alias("type_b"), "idx", F.col("m").alias("mb")
    )
    pairs = a.join(b, "idx").filter(F.col("type_a") < F.col("type_b"))
    dy = lambda m: F.expr(
        f"cast(sum(shiftleft(cast(1 as bigint), cast(55 - {m} as int))) as bigint)"
    )
    harm = pairs.withColumn("mu", F.greatest("ma", "mb")).groupBy(
        "type_a", "type_b"
    ).agg(dy("ma").alias("s_a"), dy("mb").alias("s_b"), dy("mu").alias("s_union"))
    # user-grain distinct checkpointed: three consumers (both sides
    # of the intersection join and the union reference) — slim rows,
    # one raw-events pass
    users = materialize(ev.select("event_type", "user_id").distinct())
    ua = users.select(F.col("event_type").alias("type_a"), "user_id")
    ub = users.select(F.col("event_type").alias("type_b"), "user_id")
    exact = (
        ua.join(ub, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.countDistinct("user_id").cast("bigint").alias("exact_intersection"))
    )
    tpairs = harm.select("type_a", "type_b")
    eu = (
        tpairs.join(
            users,
            (F.col("event_type") == F.col("type_a"))
            | (F.col("event_type") == F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.countDistinct("user_id").cast("bigint").alias("exact_union"))
    )
    est = lambda s: F.lit(_HLL_ALPHA_NUM) / F.col(s).cast("double")
    out = (
        harm.join(exact, ["type_a", "type_b"])
        .join(eu, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            "s_union",
            est("s_a").alias("est_a"),
            est("s_b").alias("est_b"),
            est("s_union").alias("est_union"),
            (est("s_a") + est("s_b") - est("s_union")).alias("est_intersection"),
            "exact_intersection",
            "exact_union",
            (F.col("exact_union") > F.lit(_HLL_RAW_FLOOR)).alias("in_raw_regime"),
        )
    )
    return contract_filter(
        out,
        ~F.col("in_raw_regime")
        | (
            F.abs(F.col("est_union") / F.col("exact_union").cast("double") - F.lit(1.0))
            <= F.lit(_HLL_3RSD)
        ),
        F.concat(
            F.lit("portable-HLL union estimate out of bound for pair "),
            F.col("type_a"), F.lit("/"), F.col("type_b")
        ),
    ).orderBy("type_a", "type_b")
