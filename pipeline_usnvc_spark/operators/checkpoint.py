"""Lineage materialization for iterative operators.

Every fixpoint loop in this engine (hierarchy closure, HashMin
connected components, the dedup pipeline's pair graph) must cut
lineage each round, or round N replays rounds 1..N-1 — quadratic
re-execution. Locally ``localCheckpoint`` (executor block manager) is
the cheapest cut. On a real cluster it is NOT fault-tolerant: losing
an executor loses the checkpointed blocks and the job cannot recompute
them (lineage was truncated). There, a *reliable* checkpoint to a
shared filesystem (``sparkContext.setCheckpointDir`` on HDFS/S3) is
the correct materialization.

``materialize`` picks automatically: if the session has a checkpoint
dir configured it uses the reliable path, otherwise localCheckpoint.
Cluster deployments opt in with one line (or the
``SPARK_GRAFT_CHECKPOINT_DIR`` env var honored by ``get_spark``) and
every iterative operator in the engine switches over.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut ``df``'s lineage by materializing it.

    Reliable ``checkpoint()`` when the SparkContext has a checkpoint
    dir (survives executor loss — required for long fixpoint loops on
    preemptible clusters), ``localCheckpoint()`` otherwise.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir():
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def fan_out(df: DataFrame, min_fraction: float = 0.5) -> DataFrame:
    """Size-adaptive read-side parallelization.

    Parquet splits at ROW-GROUP granularity: a small file written as
    one row group scans as ONE task no matter the cluster size, so a
    compute-heavy map stage (shingling, md5, vector scoring) runs
    single-threaded. When the source arrives with fewer partitions
    than ``min_fraction``× the session's default parallelism, insert
    one round-robin repartition of the RAW rows (cheap — the data is
    by definition small relative to the cluster) so the expensive
    expressions above it parallelize.

    At 100 TB this is a NO-OP: real inputs arrive with thousands of
    row groups/files, the partition count exceeds the threshold, and
    the plan keeps its zero-extra-shuffle shape (plan regressions
    assert that shape with this helper stubbed to identity, the same
    convention as ``materialize``).
    """
    if df.isStreaming:
        # An unbounded frame has no batch plan to read, and
        # micro-batches already parallelize per trigger — identity,
        # like at scale.
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if _planned_partitions(df) < max(1, int(target * min_fraction)):
        return df.repartition(target)
    return df


def _planned_partitions(df: DataFrame) -> int:
    """The number of partitions ``df`` will run in, read off its
    physical plan before anything executes. (``df.rdd`` gives it too,
    but under AQE it first runs the frame's query stages, such as a
    broadcast, only to be counted.)

    A node that declares its output partitioning (a shuffle, a
    coalesce, a limit) counts that; a broadcast build side counts
    nothing; a leaf scan counts its splits; any other node sums its
    children. A shuffle counts the partitions it is planned with,
    before AQE coalesces them at run time."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()  # AQE's initial plan: nothing has run
    return _partitions(plan)


def _partitions(node) -> int:
    part = node.outputPartitioning()
    if part.getClass().getSimpleName() == "BroadcastPartitioning":
        return 0
    declared = part.numPartitions()
    if declared:
        return declared
    children = node.children()
    if children.isEmpty():
        # Building a scan's RDD lists its splits and runs no job.
        rdd = node.executeColumnar() if node.supportsColumnar() else node.execute()
        return rdd.getNumPartitions()
    return sum(_partitions(children.apply(i)) for i in range(children.size()))
