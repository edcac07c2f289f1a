"""Hierarchy / graph operators (reference G1-G2; usnvc/docs.py does G3-G5).

The reference walks an adjacency list (``unit.parent_id`` →
``element_global_id``) one row at a time with O(depth) lookups per
unit (reference usnvc/usnvc.py:500-530). The set-based equivalent is
pointer doubling over the whole closure: round r joins the closure
rows at exactly depth ``span = 2^r`` back to the closure, extending
every node's chain from ``span`` to ``2·span`` levels at once —
O(log depth) joins in total, not per row (3 rounds for USNVC's 8-level
tree, where a one-level-per-round frontier needs 7).

Scale notes:
  - Each round is one shuffle join plus one eager checkpoint of the
    grown closure. Lineage is cut every round, so the plan never grows
    with depth (uses localCheckpoint; on a cluster with a checkpoint
    dir, the reliable path — see ``operators/checkpoint.py``).
  - Termination is observed, not probed: an ``Observation`` records the
    maximum depth during each round's checkpoint job, and the loop stops
    once no chain reached the round's new reach ``2·span``.
  - Cycle safety: a cycle in the edges would loop forever in the
    reference; here ``max_depth`` caps the depths kept, and with it the
    rounds (5 for the default 32).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from pipeline_usnvc_spark.functions.text import ident
from pipeline_usnvc_spark.operators.checkpoint import materialize


def _checkpoint_max_depth(df: DataFrame) -> tuple[DataFrame, int | None]:
    """Materialize ``df`` and return it with its maximum ``depth``
    (None when empty), observed during the checkpoint job itself."""
    obs = Observation()
    df = materialize(df.observe(obs, F.expr("max(depth) AS max_depth")))
    return df, obs.get["max_depth"]


def ancestors(
    edges: DataFrame,
    id_col: str = "id",
    parent_col: str = "parent_id",
    max_depth: int = 32,
) -> DataFrame:
    """Transitive-closure ancestor table.

    Input: adjacency list ``(id, parent_id)`` (parent null for roots).
    Output: ``(id, ancestor_id, depth)`` — depth 1 is the immediate
    parent; ordering nearest-first is recoverable by sorting on depth
    (reference parity: usnvc.py:508-515 accumulates nearest-first).
    One row per path of length 1..``max_depth``; a path of length L in
    ``(span, 2·span]`` splits in exactly one way into its first
    ``span`` steps plus the rest, so every path is produced once, in
    trees and in cycles alike.
    """
    closure, deepest = _checkpoint_max_depth(
        edges.filter(f"{ident(parent_col)} IS NOT NULL").selectExpr(
            f"{ident(id_col)} AS id", f"{ident(parent_col)} AS ancestor_id", "1 AS depth"
        )
    )
    # `closure` holds every path of length <= reach; a longer path
    # exists only if one of length exactly reach does
    reach = 1
    while deepest is not None and deepest >= reach and reach < max_depth:
        span, reach = reach, 2 * reach
        grown = (
            closure.filter(f"depth = {span}")
            .alias("f")
            .join(closure.alias("e"), F.expr("f.ancestor_id = e.id"))
            .selectExpr("f.id AS id", "e.ancestor_id AS ancestor_id", "f.depth + e.depth AS depth")
            .filter(f"depth <= {max_depth}")
        )
        # re-checkpoint the union: a self-join over a union of two
        # checkpoints fails analysis, and one frame keeps the next
        # round's join a single scan per side
        closure, deepest = _checkpoint_max_depth(closure.unionByName(grown))
    return closure


def children_agg(
    edges: DataFrame,
    id_col: str = "id",
    parent_col: str = "parent_id",
) -> DataFrame:
    """(parent, children: sorted array) — reference G2 (usnvc.py:505-506, 530)."""
    return (
        edges.filter(F.col(parent_col).isNotNull())
        .groupBy(F.col(parent_col).alias("id"))
        .agg(F.sort_array(F.collect_list(id_col)).alias("children"))
    )


def descendant_counts(
    edges: DataFrame,
    id_col: str = "id",
    parent_col: str = "parent_id",
    max_depth: int = 32,
) -> DataFrame:
    """(id, n_descendants) via the same closure — subtree sizing."""
    clos = ancestors(edges, id_col, parent_col, max_depth)
    return clos.groupBy(F.col("ancestor_id").alias("id")).agg(
        F.count("*").alias("n_descendants")
    )
