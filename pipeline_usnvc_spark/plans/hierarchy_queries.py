"""Hierarchy queries (reference G1-G5) over a derived adjacency list.

The test schema has no explicit tree, so a deterministic one is
derived from ``customer``: node id = c_custkey, parent = c_custkey
div 10 (nodes < 10 are roots). Same derivation on both sides; the
oracle uses ``WITH RECURSIVE`` while the engine runs the iterative
pointer-doubling closure (operators/hierarchy.py) — exactly the
reference's ancestor-walk semantics (usnvc.py:508-515) done set-based.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipeline_usnvc_spark.operators.hierarchy import ancestors, children_agg, descendant_counts
from pipeline_usnvc_spark.plans.registry import query
from pipeline_usnvc_spark.sources.tables import load_table

_EDGES_SQL = """
        SELECT c_custkey AS id,
               CASE WHEN c_custkey >= 10 THEN c_custkey // 10 END AS parent_id
        FROM customer
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        F.col("c_custkey").alias("id"),
        F.when(F.col("c_custkey") >= 10, F.floor(F.col("c_custkey") / 10)).alias("parent_id"),
    )


# ---------------------------------------------------------------------------
# q20 — recursive ancestor closure (G1): iterative doubling self-join
# to fixpoint vs WITH RECURSIVE oracle. depth 1 = immediate parent.
# ---------------------------------------------------------------------------
@query(
    "q20_hierarchy_ancestors",
    oracle=f"""
    WITH RECURSIVE edges AS ({_EDGES_SQL}),
    anc AS (
        SELECT id, parent_id AS ancestor_id, 1 AS depth FROM edges WHERE parent_id IS NOT NULL
        UNION ALL
        SELECT a.id, e.parent_id AS ancestor_id, a.depth + 1
        FROM anc a JOIN edges e ON a.ancestor_id = e.id
        WHERE e.parent_id IS NOT NULL
    )
    SELECT id, ancestor_id, depth FROM anc
    """,
)
def q20_hierarchy_ancestors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ancestors(_edges(spark, sf_dir), "id", "parent_id")


# ---------------------------------------------------------------------------
# q25 — the same ancestor closure through Spark 4's SQL recursion
# (WITH RECURSIVE): the declarative alternative to the iterative
# doubling loop — one logical plan, Catalyst owns the iteration.
# ---------------------------------------------------------------------------
@query(
    "q25_recursive_cte",
    oracle=f"""
    WITH RECURSIVE edges AS ({_EDGES_SQL}),
    anc AS (
        SELECT id, parent_id AS ancestor_id, 1 AS depth FROM edges WHERE parent_id IS NOT NULL
        UNION ALL
        SELECT a.id, e.parent_id AS ancestor_id, a.depth + 1
        FROM anc a JOIN edges e ON a.ancestor_id = e.id
        WHERE e.parent_id IS NOT NULL
    )
    SELECT id, ancestor_id, depth FROM anc
    """,
)
def q25_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("q25_customer")
    return spark.sql(
        """
        WITH RECURSIVE edges AS (
            SELECT c_custkey AS id,
                   CASE WHEN c_custkey >= 10 THEN CAST(floor(c_custkey / 10) AS BIGINT) END AS parent_id
            FROM q25_customer
        ),
        anc AS (
            SELECT id, parent_id AS ancestor_id, 1 AS depth FROM edges WHERE parent_id IS NOT NULL
            UNION ALL
            SELECT a.id, e.parent_id AS ancestor_id, a.depth + 1
            FROM anc a JOIN edges e ON a.ancestor_id = e.id
            WHERE e.parent_id IS NOT NULL
        )
        SELECT id, ancestor_id, depth FROM anc
        """
    )


# ---------------------------------------------------------------------------
# q21 — immediate-children aggregation (G2) as a canonical string.
# ---------------------------------------------------------------------------
@query(
    "q21_hierarchy_children",
    oracle=f"""
    WITH edges AS ({_EDGES_SQL})
    SELECT parent_id AS id,
           string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS children,
           count(*) AS n_children
    FROM edges WHERE parent_id IS NOT NULL
    GROUP BY parent_id
    """,
)
def q21_hierarchy_children(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = children_agg(_edges(spark, sf_dir), "id", "parent_id")
    return ch.select(
        "id",
        F.concat_ws(",", F.transform(F.col("children"), lambda c: c.cast("string"))).alias("children"),
        F.size("children").cast("long").alias("n_children"),
    )


# ---------------------------------------------------------------------------
# q22 — subtree sizes via the same closure (descendant counts) — the
# "how big is each branch" rollup a hierarchy snapshot needs.
# ---------------------------------------------------------------------------
@query(
    "q22_hierarchy_descendant_counts",
    oracle=f"""
    WITH RECURSIVE edges AS ({_EDGES_SQL}),
    anc AS (
        SELECT id, parent_id AS ancestor_id, 1 AS depth FROM edges WHERE parent_id IS NOT NULL
        UNION ALL
        SELECT a.id, e.parent_id AS ancestor_id, a.depth + 1
        FROM anc a JOIN edges e ON a.ancestor_id = e.id
        WHERE e.parent_id IS NOT NULL
    )
    SELECT ancestor_id AS id, count(*) AS n_descendants
    FROM anc GROUP BY ancestor_id
    """,
)
def q22_hierarchy_descendant_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return descendant_counts(_edges(spark, sf_dir), "id", "parent_id")


# ---------------------------------------------------------------------------
# q23 — root synthesis + parent fallback (G4/G5): every node's parent
# with null→0 rewrite, plus the synthetic root id 0 whose children are
# the real roots (reference usnvc.py:223-234, 437-449).
# ---------------------------------------------------------------------------
@query(
    "q23_hierarchy_root_rewrite",
    oracle=f"""
    WITH edges AS ({_EDGES_SQL})
    SELECT id, coalesce(parent_id, 0) AS parent FROM edges
    UNION ALL
    SELECT 0 AS id, NULL AS parent
    """,
)
def q23_hierarchy_root_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _edges(spark, sf_dir)
    rewritten = edges.select("id", F.coalesce(F.col("parent_id"), F.lit(0).cast("bigint")).alias("parent"))
    root = edges.sparkSession.createDataFrame([(0,)], "id bigint").select(
        "id", F.lit(None).cast("bigint").alias("parent")
    )
    return rewritten.unionByName(root)
