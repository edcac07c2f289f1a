"""Deep-hierarchy invariants in-suite (VERDICT r10 item 7): the same
three assertions the adversarial-scale script
(scripts/usnvc_deep_stress.py, 265k units / depth 12 / +5k hot
children — measured row in SCALE.md) makes, at a fast-but-still-deep
shape: depth 12, fan-out 2 (8,191 units) with a 500-child hot
parent. The closure must reach exactly depth-1 with sum-of-depths
rows, documents must cover every unit plus the
synthetic root, no NON-hot document may exceed the 280 KB bound
observed on the real export's worst bridge fan-out, and the hot
parent's document must grow linearly in its OWN child count (doc
size is O(own fan-out), never O(n) — at 5,000 children the scale
script measures ~311 B/child)."""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

import pytest

# Deep-stress tier: depth-12 / hot-parent closure stress (full gate only; inner loop runs the default-depth hierarchy suites).
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))

DEPTH = 12
FANOUT = 2
HOT = 500


@pytest.fixture(scope="module")
def deep_export():
    from usnvc_deep_stress import generate_deep_export

    return generate_deep_export(
        Path(tempfile.mkdtemp()) / "export", DEPTH, FANOUT, HOT
    )


def test_deep_hierarchy_invariants(spark, deep_export):
    from pipeline_usnvc_spark.operators.hierarchy import ancestors
    from pipeline_usnvc_spark.usnvc.docs import build_documents
    from pipeline_usnvc_spark.usnvc.ingest import build_silver, read_export

    export, nodes = deep_export
    silver = build_silver(read_export(spark, str(export)))

    clos = ancestors(
        silver["nvcsUnits"].select("element_global_id", "parent_id"),
        id_col="element_global_id",
        parent_col="parent_id",
    )
    agg = clos.agg(
        F.max("depth").alias("max_depth"), F.count("*").alias("rows")
    ).collect()[0]
    # max depth == tree depth - 1, one row per path: the closure works
    # per level, never per row
    assert agg["max_depth"] == DEPTH - 1
    assert agg["rows"] == sum(lvl for _, _, lvl in nodes)

    # the hot parent's 500 children all resolve the full 2-deep chain
    hot = nodes[1][0]
    hot_kids = clos.filter(
        (F.col("ancestor_id") == hot) & (F.col("depth") == 1)
    ).count()
    assert hot_kids == HOT + FANOUT

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
    assert stats["n"] == len(nodes) + 1  # every unit + synthetic root
    assert stats["max_bytes_nonhot"] <= 280 * 1024
    # the hot doc inflates only itself, linearly in its child count
    assert (stats["hot_bytes"] - 64 * 1024) / (HOT + FANOUT) <= 512
