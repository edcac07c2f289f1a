#!/usr/bin/env python
"""Round-close gate 1: full DEFAULT-HEAP sf0.1 vanilla-session replay
of the ENTIRE registry (the memory-shape gate that caught q282 in
round 6 — sf0.001/0.01 never cross the executor heap). Every
oracle-paired query is hash-compared against DuckDB; rows-only
queries execute under count() (in-plan assert_true contracts fire
under any consumption).

THREADED by default (VERDICT r12 item 4): the serial replay idled
~60% of the round-close inner tier, while a local[32] session happily
schedules jobs from several submitter threads and every DuckDB oracle
runs on its own per-call connection (oracle_compare.run_oracle). Each
query still executes and reports individually — a failure names its
query exactly as before. Threads default to 6 (Spark driver-side plan
compilation is the shared bottleneck; beyond ~8 submitters it
contends on the analyzer lock for no wall-clock gain).

Concurrency caveat, handled below: 6 queries sharing one DEFAULT-HEAP
JVM can transiently exceed the execution-memory pool where each query
alone fits comfortably (observed twice in the first threaded run —
both rows re-ran green solo). A threaded failure therefore downgrades
to "suspect" and re-runs SERIALLY after the pool drains; only a
failure that reproduces alone is a real memory-shape regression and
fails the gate. The retry pass is printed so a flaky-under-contention
query is still visible in the log.

Query names on the command line replay only those queries (at sf0.01
and sf0.1 unless SF dirs are given), to prove a rewritten query still
matches before the full gate; with none, the whole registry replays.
``check`` is the one per-query check; dry_run_sample.py imports it.

    python scripts/replay_full.py [sf_dir ...] [query ...] [--threads N | --serial]
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
os.chdir(REPO)
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tests"))


def check(spark, sf: str, name: str, query, oracle: str | None) -> str | None:
    """Run one registry query at ``sf``: hash-compare it with its DuckDB
    oracle, or execute it under count() when it has none (its in-plan
    contracts fire under any consumption). Returns the error, or None."""
    from oracle_compare import assert_frames_match, run_oracle

    try:
        if oracle is not None:
            assert_frames_match(query(spark, sf).toPandas(), run_oracle(oracle, sf), name)
        else:
            assert query(spark, sf).count() >= 0
        return None
    except Exception as ex:  # noqa: BLE001 — report and continue
        return str(ex)[:500]


def replay(spark, sf: str, names: list[str], threads: int) -> int:
    """Replay ``names`` at ``sf``; print the failures and a summary
    line, and return the number of queries that failed."""
    import gc
    from concurrent.futures import ThreadPoolExecutor

    from pipeline_usnvc_spark.plans import ORACLES, QUERIES

    t0 = time.time()

    def one(name: str) -> tuple[str, str | None]:
        return name, check(spark, sf, name, QUERIES[name], ORACLES.get(name))

    # Storage hygiene for the long-lived default-heap session:
    # localCheckpoint blocks are only unpersisted when the
    # ContextCleaner sees their py4j refs die, and Python's GC lags —
    # 400+ queries of retained checkpoint blocks squeezed the 1 GB
    # heap until q101's 10-round broadcast loop could no longer build
    # (observed: green in a fresh process, OOM at slot 406 of the
    # shared session). A periodic gc pass from THIS consumer thread
    # keeps the cleaner ahead of the leak; per-query collect()s from
    # all submitter threads at once instead crashed the JVM with
    # GCLocker contention against Arrow's JNI critical regions.
    ok = done = 0
    suspects: list[tuple[str, str]] = []
    with ThreadPoolExecutor(max_workers=threads) as pool:
        for name, err in pool.map(one, names):
            done += 1
            if done % 25 == 0:
                gc.collect()
            if err is None:
                ok += 1
            else:
                suspects.append((name, err))

    # Serial retry: separates real failures from contention artifacts.
    bad = 0
    for name, first_err in suspects:
        if threads > 1:
            print(f"RETRY {name} (threaded: {first_err[:160]})", flush=True)
            _, err = one(name)
        else:
            err = first_err
        if err is None:
            ok += 1
            print("  -> green solo (contention artifact)", flush=True)
        else:
            bad += 1
            print(f"FAIL {name}: {err}", flush=True)

    n_o = sum(1 for n in names if n in ORACLES)
    print(
        f"REPLAY {sf} default-heap x{threads} threads: {ok} green / {bad} "
        f"failed of {len(names)} ({n_o} oracle-paired, "
        f"{len(suspects)} retried serially) in {time.time() - t0:.0f}s",
        flush=True,
    )
    return bad


def main() -> None:
    import argparse

    from pyspark.sql import SparkSession

    from pipeline_usnvc_spark.plans import QUERIES

    ap = argparse.ArgumentParser(description="replay registry queries against their oracles")
    ap.add_argument("targets", nargs="*", help="SF dirs and/or registered query names")
    ap.add_argument("--threads", type=int, default=6)
    ap.add_argument("--serial", action="store_true", help="same as --threads 1")
    args = ap.parse_args()
    threads = 1 if args.serial else args.threads
    names = [t for t in args.targets if t in QUERIES]
    sfs = [t for t in args.targets if t not in QUERIES]
    unknown = [t for t in sfs if not os.path.isdir(t)]
    if unknown:
        sys.exit(f"neither a registered query nor an SF dir: {unknown}")
    if not sfs:
        sfs = ["/root/testdata/sf0.01", "/root/testdata/sf0.1"] if names else ["/root/testdata/sf0.1"]
    # vanilla + default heap ON PURPOSE: mirrors the driver's session
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    bad = sum(replay(spark, sf, names or list(QUERIES), threads) for sf in sfs)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
