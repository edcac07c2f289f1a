#!/usr/bin/env python
"""Round-close gate 2: pre-driver dry run — replay the EXACT 50-slot
sample the driver will take (dict-order prefix of
__spark_entry__.queries()) at sf0.01 in THIS fresh vanilla process,
hash-comparing oracle-paired entries and executing rows-only ones.

    python scripts/dry_run_sample.py [n_slots]
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


def main() -> None:
    from pyspark.sql import SparkSession

    from replay_full import check

    n_slots = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as e

    df = e.entry(spark)
    assert len(df.limit(3).collect()) >= 1, "entry() produced no rows"
    qs, oracles = e.queries(), e.oracle_sql()
    sample = list(qs)[:n_slots]
    sf = "/root/testdata/sf0.01"
    t0 = time.time()
    ok_o = ok_r = bad = 0
    for name in sample:
        err = check(spark, sf, name, qs[name], oracles.get(name))
        if err is not None:
            bad += 1
            print(f"FAIL {name}: {err[:400]}", flush=True)
        elif name in oracles:
            ok_o += 1
        else:
            ok_r += 1
    print(
        f"DRY RUN {n_slots}-slot sample: {ok_o} oracle green + {ok_r} "
        f"rows-only clean / {bad} failed in {time.time() - t0:.0f}s"
    )
    print("sample:", sample)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
