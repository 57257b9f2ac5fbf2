"""Parallelism and materialization: the two physical-plan decisions
operators share.

`ensure_parallelism` spreads a narrow scan before heavy per-row work.
The driver-generated test parquet is written as ONE row group per
file, and Spark cannot split a parquet file below row-group
granularity — so every scan arrives as a single task no matter what
`spark.sql.files.maxPartitionBytes` says. At 100 TB this is a no-op by
design: inputs arrive as many row-groups/files and the partition count
already exceeds defaultParallelism, so the input comes back unchanged
— no extra shuffle on the scale path.

`materialize` is the package's one place that pins an intermediate
(today `localCheckpoint`, the local block store). Every job it runs is
described by its call site, so the Spark UI and the status store
attribute materialization work to the operator that asked for it.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame

_DESCRIPTION = "spark.job.description"


def _num_partitions(df: DataFrame) -> int:
    """Partition count of the physical plan WITHOUT the df.rdd
    Python-RDD conversion (which rebuilds serializers per call,
    ~200× slower). `execute()` on a non-adaptive plan is lazy (builds
    the RDD DAG, runs no job); for adaptive plans (only possible if a
    caller passes an already-shuffled df) it could materialize stages,
    so fall back to df.rdd there."""
    try:
        plan = df._jdf.queryExecution().executedPlan()
        if "AdaptiveSparkPlan" not in plan.getClass().getSimpleName():
            return plan.execute().getNumPartitions()
    except Exception:
        pass
    return df.rdd.getNumPartitions()


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition IF the plan currently has fewer
    partitions than the session's default parallelism (or an explicit
    floor). The shuffle this introduces moves the small pre-explosion
    rows, not the exploded/decoded output."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if _num_partitions(df) < target:
        return df.repartition(target)
    return df


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Pin `df` in the local block store so its lineage runs once.

    Every job this call runs is described `<module>.<function>:<line>`
    of the caller. A lazy call can run jobs too: under AQE the upstream
    shuffle-map stages execute here. The job group is left alone and
    the previous description is restored afterwards; both are local
    properties of the calling thread. A lost executor loses these
    blocks, so at cluster scale this is the one place to switch to a
    reliable `checkpoint()` (SCALING.md §11)."""
    caller = sys._getframe(1)
    module = caller.f_globals.get("__name__", "").rpartition(".")[2]
    sc = df.sparkSession.sparkContext
    prev = sc.getLocalProperty(_DESCRIPTION)
    sc.setLocalProperty(
        _DESCRIPTION, f"{module}.{caller.f_code.co_name}:{caller.f_lineno}"
    )
    try:
        return df.localCheckpoint(eager=eager)
    finally:
        sc.setLocalProperty(_DESCRIPTION, prev)
