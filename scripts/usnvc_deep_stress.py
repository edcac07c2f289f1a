#!/usr/bin/env python
"""Adversarial-scale USNVC hierarchy stress (VERDICT r10 item 7).

The real export is 8 levels deep with ~8.5k units; the perfbench
generator (perfbench/gen.usnvc_export) widens but keeps the 8-level
shape. This stress goes DEEP and WIDE at once — a D-level F-ary tree (defaults:
depth 12, fan-out 3 -> 265,720 units) with one adversarial hot
parent carrying an extra 5,000 direct children (the child-nest
skew case) — and ASSERTS the hierarchy family's scale
invariants instead of just timing them:

  1. closure shape: the ancestor closure reaches exactly depth-1
     (max(depth) == tree depth - 1) and its row count equals the sum
     over nodes of their depth — one row per path, from a set-based
     walk in O(log depth) doubling rounds, not O(n) per-row lookups;
  2. doc count == units + 1 (every unit + the synthetic root);
  3. doc size is O(own fan-out), never O(n): every NON-hot document
     stays under the 280 KB bound observed on the real export's
     worst bridge fan-out (SCALE.md J10 row), and the hot parent's
     document — which legitimately exceeds it at 5,000 children —
     grows LINEARLY in its own child count (bounded per-child bytes
     over a fixed base), so a skewed parent inflates exactly one
     document, not the pipeline.

Usage:
    python scripts/usnvc_deep_stress.py [depth] [fanout] [hot_children]
"""

from __future__ import annotations

import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tests"))

LEVELS = [
    "Class", "Subclass", "Formation", "Division",
    "Macrogroup", "Group", "Alliance", "Association",
]


def generate_deep_export(
    tmp: Path, depth: int, fanout: int, hot_children: int
) -> tuple[Path, list[tuple[int, int | None, int]]]:
    """Write a depth-D F-ary export; returns (dir, [(id, parent, level)])."""
    from usnvc_fixture import TABLES

    tmp.mkdir(parents=True, exist_ok=True)
    nodes: list[tuple[int, int | None, int]] = [(1000, None, 0)]
    frontier = [1000]
    nxt_id = 1001
    for lvl in range(1, depth):
        new: list[int] = []
        for pid in frontier:
            for _ in range(fanout):
                nodes.append((nxt_id, pid, lvl))
                new.append(nxt_id)
                nxt_id += 1
        frontier = new
    # adversarial hot parent: the FIRST level-1 node gets `hot_children`
    # extra leaves (child-nest skew + the widest nested doc)
    hot = nodes[1][0]
    for _ in range(hot_children):
        nodes.append((nxt_id, hot, 2))
        nxt_id += 1

    unit_cols = TABLES["unit"][0]
    desc_cols = TABLES["unitDescription"][0]
    units, descs, refs = [], [], []
    for i, (eid, parent, lvl) in enumerate(nodes):
        row = {c: "" for c in unit_cols}
        row.update(
            element_global_id=str(eid),
            parent_id="" if parent is None else str(parent),
            classif_confidence_id=str(i % 3 + 1),
            databasecode=f"DB{eid}",
            classificationcode=f"{lvl}.{i % 7}.{i % 5}",
            hierarchylevel=LEVELS[lvl % len(LEVELS)],
            d_classification_level_id=str(46 + lvl % len(LEVELS)),
            unitsort=f"{lvl:02d}.{i:07d}",
            scientificname=f"Species {eid}",
            formattedscientificname=f"<i>Species</i> &amp; {eid}",
            translatedname=f"Translated {eid}",
            colloquialname=f"Colloquial {eid}",
            grank=f"G{i % 5 + 1}",
        )
        units.append([row[c] for c in unit_cols])
        d = {c: "" for c in desc_cols}
        d.update(
            element_global_id=str(eid),
            typeconceptsentence=f"Concept &amp; text {eid}",
            nations="US, CA?" if i % 3 else "MX",
            tncecoregions=str(i % 20),
            omernikecoregions=str(i % 15),
            federallands=str(i % 9),
            plotcount=str(i % 200),
            floristics=f"Floristic description {eid} &lt;taxa&gt;",
        )
        descs.append([d[c] for c in desc_cols])
        for r in range(i % 4):
            refs.append([str(eid), f"R{r + 1}"])

    def write(name, cols, rows):
        (tmp / f"{name}.txt").write_text(
            "\n".join(["\t".join(cols)] + ["\t".join(r) for r in rows]) + "\n",
            encoding="ISO-8859-1",
        )

    for name, (cols, rows) in TABLES.items():
        if name not in ("unit", "unitDescription", "UnitXReference"):
            write(name, cols, rows)
    write("unit", unit_cols, units)
    write("unitDescription", desc_cols, descs)
    write("UnitXReference", TABLES["UnitXReference"][0], refs)
    return tmp, nodes


def main() -> None:
    depth = int(sys.argv[1]) if len(sys.argv) > 1 else 12
    fanout = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    hot_children = int(sys.argv[3]) if len(sys.argv) > 3 else 5000

    from pyspark.sql import functions as F

    from pipeline_usnvc_spark.operators.hierarchy import ancestors
    from pipeline_usnvc_spark.session import get_spark
    from pipeline_usnvc_spark.usnvc.docs import build_documents
    from pipeline_usnvc_spark.usnvc.ingest import build_silver, read_export

    export, nodes = generate_deep_export(
        Path(tempfile.mkdtemp()) / "export", depth, fanout, hot_children
    )
    n_units = len(nodes)
    expect_closure_rows = sum(lvl for _, _, lvl in nodes)
    print(f"generated {n_units} units, depth {depth}, fan-out {fanout}, "
          f"hot parent +{hot_children}")

    spark = get_spark(app_name="usnvc_deep_stress")
    spark.sparkContext.setLogLevel("ERROR")
    silver = build_silver(read_export(spark, str(export)))

    # invariant 1: max depth == tree depth - 1, rows == sum(node depths)
    t0 = time.perf_counter()
    clos = ancestors(
        silver["nvcsUnits"].select("element_global_id", "parent_id"),
        id_col="element_global_id",
        parent_col="parent_id",
    )
    agg = clos.agg(
        F.max("depth").alias("max_depth"), F.count("*").alias("rows")
    ).collect()[0]
    t_clos = time.perf_counter() - t0
    assert agg["max_depth"] == depth - 1, (agg["max_depth"], depth - 1)
    assert agg["rows"] == expect_closure_rows, (agg["rows"], expect_closure_rows)
    print(f"closure: {agg['rows']} rows, max depth {agg['max_depth']}, {t_clos:.1f}s")

    # invariants 2+3: doc count; size O(own fan-out), never O(n)
    hot = nodes[1][0]
    t0 = time.perf_counter()
    docs = build_documents(silver, "2026-01-01T00:00:00")
    stats = docs.agg(
        F.count("*").alias("n"),
        F.max(
            F.when(
                F.col("row_id") != str(hot), F.octet_length("source_data")
            )
        ).alias("max_bytes_nonhot"),
        F.max(
            F.when(
                F.col("row_id") == str(hot), F.octet_length("source_data")
            )
        ).alias("hot_bytes"),
    ).collect()[0]
    t_docs = time.perf_counter() - t0
    assert stats["n"] == n_units + 1, (stats["n"], n_units + 1)
    assert stats["max_bytes_nonhot"] <= 280 * 1024, stats["max_bytes_nonhot"]
    per_child = (stats["hot_bytes"] - 64 * 1024) / (hot_children + fanout)
    assert per_child <= 512, (stats["hot_bytes"], per_child)
    print(
        f"{stats['n']} documents in {t_docs:.1f}s "
        f"({stats['n'] / t_docs:.0f} docs/s); max non-hot doc "
        f"{stats['max_bytes_nonhot']} B; hot doc {stats['hot_bytes']} B "
        f"= {per_child:.0f} B/child over the 64 KB base"
    )
    print("ALL INVARIANTS HOLD")


if __name__ == "__main__":
    main()
