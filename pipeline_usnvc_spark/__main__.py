"""Command-line entry point: run the full USNVC document pipeline.

The drop-in replacement for the reference's two-stage AWS fan-out
(reference usnvc/usnvc.py process_1/process_2 + README.md:14-33): one
Spark job ingests the 18-file export, assembles every document
set-based, and writes validated JSON envelopes (plus an optional
quarantine channel for rows failing the envelope contract).

    python -m pipeline_usnvc_spark --export-dir <dir> --out <dir> \
        [--quarantine <dir>] [--limit N] [--master local[*]]

``--limit`` is the configurable form of the reference's hard-coded
10-row debug stop (usnvc.py:60-61) — default off, full data.
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m pipeline_usnvc_spark",
        description="USNVC document pipeline (PySpark-native)",
    )
    ap.add_argument("--export-dir", required=True, help="directory with the 18 *.txt export files")
    ap.add_argument("--out", required=True, help="output directory for JSON document envelopes")
    ap.add_argument("--quarantine", default=None, help="optional directory for envelope-contract rejects")
    ap.add_argument("--limit", type=int, default=None, help="debug: stop after N units (default: all)")
    ap.add_argument("--master", default="local[*]", help="Spark master (default local[*])")
    ap.add_argument("--run-timestamp", default=None, help="fixed ISO timestamp for deterministic output")
    args = ap.parse_args(argv)

    from pipeline_usnvc_spark.session import get_spark
    from pipeline_usnvc_spark.usnvc.docs import build_documents
    from pipeline_usnvc_spark.usnvc.ingest import build_silver, read_export
    from pipeline_usnvc_spark.usnvc.ledger import write_documents

    spark = get_spark(app_name="usnvc_pipeline", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.perf_counter()
    silver = build_silver(read_export(spark, args.export_dir))
    docs = build_documents(silver, run_timestamp=args.run_timestamp)
    if args.limit is not None:
        docs = docs.limit(args.limit)
    n = write_documents(docs, args.out, quarantine_dir=args.quarantine)["documents_written"]
    print(f"{n} documents -> {args.out} in {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
