"""Parallelism, materialization, the per-key fold and the null-safe
key join: the plan decisions operators share.

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

`fold_by_key` is the package's one way into Python for a sequential
per-key fold (bin-pack, sequence packing): one Python call per Arrow
batch, never one per key.

`join_null_safe` joins on keys where NULL matches NULL, the way
`groupBy` groups them: an equi-join silently drops the NULL group.
"""

from __future__ import annotations

import sys
from collections.abc import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import from_arrow_schema

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


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition IF the plan currently has fewer
    partitions than the session's default parallelism. The shuffle
    this introduces moves the small pre-explosion rows, not the
    exploded/decoded output."""
    target = df.sparkSession.sparkContext.defaultParallelism
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


def join_null_safe(
    left: DataFrame, right: DataFrame, keys: list[str], how: str = "inner"
) -> DataFrame:
    """``left.join(right, keys, how)`` where NULL keys match, as
    groupBy groups them: the NULL group is a group too. With no keys
    every left row pairs with every right row (the one-group case)."""
    if not keys:
        return left.crossJoin(right)
    r = right.select(
        *(F.col(c).alias(f"_r_{c}") if c in keys else c for c in right.columns)
    )
    on = [left[k].eqNullSafe(r[f"_r_{k}"]) for k in keys]
    return left.join(r, on, how).drop(*(f"_r_{k}" for k in keys))


def _key_breaks(prev: list, cur: list) -> np.ndarray:
    """Row-wise "key differs" flags between two equal-length lists of
    Arrow key columns. NULL equals NULL, as in groupBy."""
    out = np.zeros(len(cur[0]), dtype=bool)
    for a, b in zip(prev, cur):
        same = pc.or_(
            pc.fill_null(pc.equal(a, b), False),
            pc.and_(pc.is_null(a), pc.is_null(b)),
        )
        out |= ~same.to_numpy(zero_copy_only=False)
    return out


def _key_starts(keys: list, tail: list | None = None) -> np.ndarray:
    """Rows where a new key begins in sorted Arrow key columns. Row 0
    begins one unless it continues ``tail``, the key columns of the
    row before it."""
    first = [True] if tail is None else _key_breaks(tail, [k[:1] for k in keys])
    rest = _key_breaks([k[:-1] for k in keys], [k[1:] for k in keys])
    return np.flatnonzero(np.concatenate([first, rest]))


def _concat(batches: list) -> pa.RecordBatch:
    if len(batches) == 1:
        return batches[0]
    return pa.Table.from_batches(batches).combine_chunks().to_batches()[0]


def fold_by_key(
    df: DataFrame,
    keys: list[str],
    order: list[str],
    fold: Callable[[pa.RecordBatch, np.ndarray], pa.RecordBatch],
    schema: pa.Schema,
) -> DataFrame:
    """Run ``fold`` over every key group of ``df``, each group's rows
    sorted by ``order``, and return its rows as a DataFrame of
    ``schema``.

    Plan shape: ONE hash exchange on ``keys`` (``repartition``, so no
    key is ever split across tasks; a rebalance or range exchange may
    be split by AQE) → a sort by (keys, order) within each task → one
    ``mapInArrow``. Each Python call gets an Arrow batch of ``df``'s
    columns holding only COMPLETE keys plus the rows where each key
    starts, and returns one output batch: ``fold`` folds every key of
    the batch at once. Key boundaries come from adjacent-row
    comparison; a key that straddles batches is carried as a list of
    slices and concatenated once, when it closes, so Python memory is
    bounded by one key group plus one batch. NULL keys form one group,
    as in groupBy; empty input gives no rows.
    """

    def _fold(batch):
        return fold(batch, _key_starts([batch.column(k) for k in keys]))

    def _run(batches):
        carry: list = []  # slices of the key still open at the batch end
        for b in batches:
            if b.num_rows == 0:
                continue
            tail = [carry[-1].column(k)[-1:] for k in keys] if carry else None
            starts = _key_starts([b.column(k) for k in keys], tail)
            if not starts.size:
                carry.append(b)
                continue
            closed = [s for s in carry + [b.slice(0, starts[-1])] if s.num_rows]
            carry = [b.slice(starts[-1])]
            if closed:
                yield _fold(_concat(closed))
        if carry:
            yield _fold(_concat(carry))

    ordered = df.repartition(*keys).sortWithinPartitions(*keys, *order)
    return ordered.mapInArrow(_run, from_arrow_schema(schema))
