#!/usr/bin/env python
"""Unified scale gate: one command, one artifact. Runs PINNED
multipliers over the standing families and emits ONE JSON line to
SCALE_r{N}.json next to the BENCH artifacts:

  - ledger_fold      1x/10x/100x  q427 shuffled fold vs q431's
                                  bucketed fold-only (outputs
                                  asserted identical per multiplier)
  - snapshot_diff    1x/10x/100x  q428's fold, shuffled vs bucketed
                                  (outputs asserted identical)
  - dedup_curve      1x/10x       q56 full near-dup pipeline
  - episode_mining   1x/10x       q410 capped episodes over events
  - closure_depth    1x/10x       ancestor closure on a depth-12
                                  fan-out-3 forest (row count
                                  asserted == sum-of-depths)

Protocol: warm local[32] (session.py confs + 4 MiB split hint),
min-of-2 per timing, noop sink, id-shifted self-union replication
(the r11/r12 shape — shifts re-scatter the plant classes so ledger
batches stay a real multi-batch MERGE log at scale).

Regression rule (the bench.py spread-aware rule): against the most
recent prior SCALE_r*.json, a timing flags when
new/old > max(1.5, 1 + 3*spread) with spread = (max-min)/min of this
run's two samples — single-sample spikes on a contended box don't
survive the min-of-2 + spread guard.

    python scripts/scale_gate.py [--md]
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
os.chdir(REPO)
sys.path.insert(0, str(REPO))

SF = "/root/testdata/sf0.1"
LEDGER_MULTS = (1, 10, 100)
CURVE_MULTS = (1, 10)


def snapshot_diff_fold(oplog):
    """q428's snapshot-isolation diff fold, inlined so the
    head-to-head can feed it either the raw or the bucketed log."""
    from pyspark.sql import functions as F

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


def main() -> None:
    from pyspark.sql import functions as F

    from pipeline_usnvc_spark.operators.hierarchy import ancestors
    from pipeline_usnvc_spark.plans import QUERIES
    from pipeline_usnvc_spark.plans.round11_queries import (
        _ledger_oplog,
        compaction_summary,
    )
    from pipeline_usnvc_spark.session import get_spark
    from pipeline_usnvc_spark.sources.tables import load_table

    emit_md = "--md" in sys.argv

    spark = get_spark(
        app_name="scale_gate",
        extra_conf={"spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024)},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.sql(
        "CREATE DATABASE IF NOT EXISTS bucketed_demo "
        "LOCATION '/tmp/pipeline_usnvc_spark_bucketed_demo_db'"
    )
    app = spark.sparkContext.applicationId.replace("-", "_")
    base = Path("/tmp/scale_gate")
    shutil.rmtree(base, ignore_errors=True)

    samples: dict[str, list[float]] = {}

    def timed(key: str, build, runs: int = 2) -> float:
        ts = []
        for _ in range(runs):
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
        samples[key] = sorted(ts)
        return min(ts)

    def replicate(table: str, mult: int, id_col: str) -> str:
        """id-shifted self-union at `mult`, one parquet dir per
        (table, mult) — shifts preserve the %-class structure at new
        ids, so plants/batches/users stay realistic at scale."""
        out = base / f"{table}_x{mult}"
        if out.exists():
            return str(out)
        out.mkdir(parents=True)
        d = load_table(spark, SF, table)
        d_n = d
        for i in range(1, mult):
            d_n = d_n.unionByName(
                d.withColumn(id_col, F.col(id_col) + F.lit(i * 100_000_000))
            )
        d_n.repartition(64).write.mode("overwrite").parquet(
            str(out / f"{table}.parquet")
        )
        return str(out)

    results: dict[str, dict] = {}

    # --- ledger_fold + snapshot_diff (shuffled vs bucketed) ---------
    lf: dict[str, dict] = {}
    sd: dict[str, dict] = {}
    for mult in LEDGER_MULTS:
        sf_dir = SF if mult == 1 else replicate("documents", mult, "doc_id")
        t_shuffled = timed(
            f"ledger_fold/x{mult}/shuffled",
            lambda: QUERIES["q427_merge_ledger_compaction"](spark, sf_dir),
        )
        name = f"bucketed_demo.scale_gate_x{mult}_{app}"
        loc = f"/tmp/scale_gate_tbl_x{mult}_{app}"
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(loc, ignore_errors=True)
        t0 = time.perf_counter()
        (
            _ledger_oplog(spark, sf_dir)
            .repartition(8, "fp")
            .write.bucketBy(8, "fp")
            .sortBy("fp")
            .option("path", loc)
            .mode("overwrite")
            .saveAsTable(name)
        )
        t_write = time.perf_counter() - t0
        t_fold = timed(
            f"ledger_fold/x{mult}/bucketed",
            lambda: compaction_summary(spark.table(name), materialize_fold=False),
        )
        a = sorted(
            map(tuple, QUERIES["q427_merge_ledger_compaction"](spark, sf_dir).collect())
        )
        b = sorted(
            map(
                tuple,
                compaction_summary(spark.table(name), materialize_fold=False).collect(),
            )
        )
        assert a == b, f"ledger_fold bucketed path diverged at x{mult}"
        lf[f"x{mult}"] = {
            "shuffled": round(t_shuffled, 3),
            "bucketed_write_once": round(t_write, 3),
            "bucketed": round(t_fold, 3),
        }
        t_diff_s = timed(
            f"snapshot_diff/x{mult}/shuffled",
            lambda: snapshot_diff_fold(_ledger_oplog(spark, sf_dir)),
        )
        t_diff_b = timed(
            f"snapshot_diff/x{mult}/bucketed",
            lambda: snapshot_diff_fold(spark.table(name)),
        )
        da = sorted(map(tuple, snapshot_diff_fold(_ledger_oplog(spark, sf_dir)).collect()))
        db = sorted(map(tuple, snapshot_diff_fold(spark.table(name)).collect()))
        assert da == db, f"snapshot_diff bucketed path diverged at x{mult}"
        sd[f"x{mult}"] = {"shuffled": round(t_diff_s, 3), "bucketed": round(t_diff_b, 3)}
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(loc, ignore_errors=True)
    results["ledger_fold"] = lf
    results["snapshot_diff"] = sd

    # --- dedup_curve -------------------------------------------------
    dc: dict[str, float] = {}
    for mult in CURVE_MULTS:
        sf_dir = SF if mult == 1 else replicate("documents", mult, "doc_id")
        dc[f"x{mult}"] = round(
            timed(
                f"dedup_curve/x{mult}",
                lambda: QUERIES["q56_dedup_pipeline"](spark, sf_dir),
            ),
            3,
        )
    results["dedup_curve"] = dc

    # --- episode_mining ----------------------------------------------
    em: dict[str, float] = {}
    for mult in CURVE_MULTS:
        sf_dir = SF if mult == 1 else replicate("events", mult, "user_id")
        em[f"x{mult}"] = round(
            timed(
                f"episode_mining/x{mult}",
                lambda: QUERIES["q410_capped_episode_mining"](spark, sf_dir),
            ),
            3,
        )
    results["episode_mining"] = em

    # --- closure_depth -----------------------------------------------
    # depth-12 fan-out-3 forest (the deep-stress shape): 265,720 nodes
    # per tree copy; x10 = ten id-shifted copies. Row count asserted
    # == sum over nodes of their depth (closure correctness at scale).
    def forest(mult: int):
        rows = []
        nid = 1
        level_nodes = {0: [0]}
        rows.append((0, None, 0))
        for lvl in range(1, 12):
            level_nodes[lvl] = []
            for p in level_nodes[lvl - 1]:
                for _ in range(3):
                    rows.append((nid, p, lvl))
                    level_nodes[lvl].append(nid)
                    nid += 1
        df = spark.createDataFrame(rows, "id bigint, parent_id bigint, lvl int")
        out = df
        for i in range(1, mult):
            shift = i * 100_000_000
            out = out.unionByName(
                df.select(
                    (F.col("id") + shift).alias("id"),
                    (F.col("parent_id") + shift).alias("parent_id"),
                    "lvl",
                )
            )
        expected = mult * sum(
            lvl * len(nodes) for lvl, nodes in level_nodes.items()
        )
        return out.repartition(32), expected

    cd: dict[str, float] = {}
    for mult in CURVE_MULTS:
        edges, expected = forest(mult)
        edges = edges.localCheckpoint()

        def run():
            return ancestors(edges, max_depth=16)

        cd[f"x{mult}"] = round(timed(f"closure_depth/x{mult}", run), 3)
        got = run().count()
        assert got == expected, f"closure rows {got} != expected {expected} at x{mult}"
    results["closure_depth"] = cd

    shutil.rmtree(base, ignore_errors=True)

    # --- artifact + regression flags ----------------------------------
    spread = {
        k: round((v[-1] - v[0]) / v[0], 3) if v[0] > 0 else 0.0
        for k, v in samples.items()
    }
    flat = {k: round(v[0], 3) for k, v in samples.items()}
    rounds = sorted(
        int(m.group(1))
        for p in REPO.glob("SCALE_r*.json")
        if (m := re.match(r"SCALE_r(\d+)\.json", p.name))
    )
    flags = []
    prior_flat = {}
    if rounds:
        try:
            prev = json.loads(
                (REPO / f"SCALE_r{rounds[-1]:02d}.json").read_text().splitlines()[0]
            )
            prior_flat = prev.get("timings", {})
        except Exception:
            pass
    for k, v in flat.items():
        old = prior_flat.get(k)
        if old and v / old > max(1.5, 1 + 3 * max(spread.get(k, 0.0), 0.0)):
            flags.append({"timing": k, "old": old, "new": v})
    n = (rounds[-1] + 1) if rounds else 13
    artifact = {
        "metric": "scale_gate_total",
        "value": round(sum(flat.values()), 3),
        "unit": "sec",
        "sf": 0.1,
        "round": n,
        "families": results,
        "timings": flat,
        "spread": spread,
        "regressions": flags,
    }
    out_path = REPO / f"SCALE_r{n:02d}.json"
    out_path.write_text(json.dumps(artifact) + "\n")
    print(json.dumps(artifact))
    if emit_md:
        print("\n| family | multiplier | timing (s) |")
        print("|---|---|---|")
        for k in sorted(flat):
            print(f"| {k.split('/')[0]} | {'/'.join(k.split('/')[1:])} | {flat[k]} |")
    print(f"# wrote {out_path}", file=sys.stderr)
    sys.exit(1 if flags else 0)


if __name__ == "__main__":
    main()
