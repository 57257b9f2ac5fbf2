"""Distributed ranks and prefix sums without a one-task window.

A bare `row_number() OVER (ORDER BY …)` — or one partitioned by a
low-cardinality key — funnels the world into one task. The package's
one substitute is `grouped_prefix_sum`, the range-shard +
broadcast-offset idiom: split the total order into order-preserving
shards, run the windows inside each (group, shard), and add each
shard's offset from a small broadcast relation. Every stage is
embarrassingly parallel except one tiny (n_shards·|groups|-row)
aggregate. Ranks (`epoch_shuffle`, holdout membership, RFM bins,
calibration percentiles) are its count mode: rank = prefix + 1.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType
from pyspark.sql.window import Window

from iceberg_diag_spark.functions.parallel import join_null_safe, materialize

# The column the operators below read.
DOC_ID = "doc_id"


def epoch_shuffle(docs: DataFrame, seed: str = "epoch-0") -> DataFrame:
    """Assign each row a deterministic global shuffle position for
    the given seed: a true permutation, reproducible from the seed,
    never funneled through one node. The total order is
    (shuffle_key, id): md5 keys are effectively unique, the id breaks
    theoretical collisions; the position is that order's
    grouped_prefix_sum rank. Output: (id, shuffle_key, shuffle_pos)."""
    key = F.md5(F.concat(F.lit(seed + ":"), F.col(DOC_ID).cast("string")))
    # two consumers (shard totals, ranked output)
    base = materialize(docs.select(F.col(DOC_ID), key.alias("shuffle_key")))
    return grouped_prefix_sum(base, [], ["shuffle_key", DOC_ID]).select(
        F.col(DOC_ID),
        "shuffle_key",
        (F.col("prefix") + 1).cast("long").alias("shuffle_pos"),
    )


def grouped_prefix_sum(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[str],
    val_cols: Sequence[str] = (),
    out_cols: Sequence[str] = ("prefix",),
    n_shards: int = 32,
) -> DataFrame:
    """EXCLUSIVE prefix sums of `val_cols` over `order_cols` within
    each group of `group_cols` (none: one group), without a one-task
    window. With no `val_cols` it counts rows, so rank = prefix + 1.
    `order_cols` must form a total order within a group.

    Shards come from the first order column and are monotone in it
    (ties share a shard, so the within-shard window completes the
    order): a string's first character — every string caller orders
    by an md5 hex key — or, for a number, per-group approx-percentile
    edges (a |groups|-row broadcast; accuracy affects only load
    balance, never the sums). Exact windows run inside each
    (group, shard), and a broadcast of per-shard offsets completes
    the prefix. A NULL group key is one group, as in groupBy: the
    group joins are null-safe.

    Output: input columns + for each `out_cols[i]`: the Σ of
    `val_cols[i]` (or the row count) over rows strictly before this
    row, and `out_cols[i] + "_total"`, the group's whole sum.

    The input is read two or three times (edges, shard totals, the
    windowed rows), so a caller whose input is not already a
    checkpoint or a cheap scan pins it first.
    """
    groups = list(group_cols)
    first = order_cols[0]
    if isinstance(df.schema[first].dataType, StringType):
        base = df.withColumn("__shard", F.ascii(F.substring(first, 1, 1)))
    else:
        probs = [i / n_shards for i in range(1, n_shards)]
        edges = df.groupBy(*groups).agg(
            F.percentile_approx(first, probs, 10_000).alias("__edges")
        )
        base = join_null_safe(df, F.broadcast(edges), groups).withColumn(
            "__shard",
            F.aggregate(
                "__edges",
                F.lit(0),
                lambda acc, e: acc + F.when(F.col(first) > e, 1).otherwise(0),
            ),
        ).drop("__edges")
    keys = groups + ["__shard"]
    sums = [F.col(v) for v in val_cols] or [F.lit(1)]
    outs = list(zip(out_cols, sums, strict=True))
    shard_tot = base.groupBy(*keys).agg(
        *(F.sum(s).alias(f"__t_{o}") for o, s in outs)
    )
    w_shards = Window.partitionBy(*groups).orderBy("__shard")
    w_off = w_shards.rowsBetween(Window.unboundedPreceding, -1)
    w_all = w_shards.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = shard_tot.select(
        *keys,
        *(
            F.coalesce(F.sum(f"__t_{o}").over(w_off), F.lit(0)).alias(
                f"__o_{o}"
            )
            for o, _ in outs
        ),
        *(
            F.sum(f"__t_{o}").over(w_all).alias(f"{o}_total")
            for o, _ in outs
        ),
    )
    w_in = (
        Window.partitionBy(*keys)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = base.select(
        "*",
        *(
            F.coalesce(F.sum(s).over(w_in), F.lit(0)).alias(f"__w_{o}")
            for o, s in outs
        ),
    )
    return join_null_safe(within, F.broadcast(offsets), keys).select(
        *df.columns,
        *(
            (F.col(f"__w_{o}") + F.col(f"__o_{o}")).alias(o)
            for o, _ in outs
        ),
        *(f"{o}_total" for o, _ in outs),
    )
