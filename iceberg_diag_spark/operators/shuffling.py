"""Deterministic epoch shuffling for training-data pipelines.

The global shuffle before each training epoch must be (a) a true
permutation, (b) reproducible from a seed, and (c) executable without
ever funneling the corpus through one node. A single global
`row_number() OVER (ORDER BY rand())` fails all three at scale — one
unpartitioned window means one task holds the world.

The scalable formulation: order rows by a seeded hash key, split that
total order into shards by the key's first hex digit (shard order ==
key order, so shard boundaries are range boundaries of the total
order), number rows within each shard with a partitioned window, and
add broadcast cumulative shard offsets. Every stage is
embarrassingly parallel except one tiny (n_shards-row) aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from iceberg_diag_spark.functions.parallel import materialize


def epoch_shuffle(
    docs: DataFrame, seed: str = "epoch-0", id_col: str = "doc_id"
) -> DataFrame:
    """Assign each row a deterministic global shuffle position for
    the given seed. The total order is (shuffle_key, id): md5 keys
    are effectively unique, the id breaks theoretical collisions.
    Sharding by the key's first character preserves that order
    (ascii('0'..'9','a'..'f') is monotone), so
    global_pos = shard_offset + within-shard rank needs only a
    16-row broadcast of cumulative shard sizes — no global window,
    no single-task sort. Output: (id, shuffle_key, shuffle_pos)."""
    key = F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")))
    # two consumers (shard-size aggregate, ranked output)
    base = materialize(
        docs.select(F.col(id_col), key.alias("shuffle_key"))
        .withColumn("__shard", F.ascii(F.substring("shuffle_key", 1, 1)))
    )
    w = Window.partitionBy("__shard").orderBy("shuffle_key", id_col)
    sizes = base.groupBy("__shard").agg(F.count(F.lit(1)).alias("__cnt"))
    w_off = (
        Window.orderBy("__shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sizes.select(
        "__shard",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__offset"),
    )
    return (
        base.withColumn("__rank", F.row_number().over(w))
        .join(F.broadcast(offsets), "__shard")
        .select(
            F.col(id_col),
            "shuffle_key",
            (F.col("__offset") + F.col("__rank")).cast("long").alias(
                "shuffle_pos"
            ),
        )
    )


def global_rank(
    df: DataFrame,
    value_col: str,
    id_col: str,
    out_col: str = "rank",
    n_shards: int = 32,
) -> DataFrame:
    """Exact global dense row rank by (value, id) WITHOUT a global
    window — the distributed-ntile primitive. A bare
    `row_number() OVER (ORDER BY v)` funnels the whole relation into
    one task; instead:

    1. estimate ~n_shards order-preserving range boundaries with an
       approx-percentile sketch (a 1-row broadcast — accuracy only
       affects load balance, never correctness),
    2. assign each row its shard by counting boundaries below its
       value (monotone in value ⇒ shard order == value order; value
       ties land in the same shard, so the within-shard (value, id)
       window completes the exact total order),
    3. rank within shards with a partitioned window and add exact
       broadcast cumulative shard-size offsets — the epoch_shuffle
       idiom.

    Output: input columns + `out_col` (1-based exact global rank).

    Like grouped_prefix_sum, the input is consumed more than once
    (percentile edges, shard sizes, the ranked base) and Catalyst
    replays a lazy lineage per consumer — rfm_segments chains three
    global_rank calls, which cubed the replay into 258 parquet scans
    of one orders table. The primitive lazily materializes its
    input so upstream runs exactly once.
    """
    df = materialize(df)
    probs = [i / n_shards for i in range(1, n_shards)]
    edges = df.agg(
        F.percentile_approx(value_col, probs, 10_000).alias("__edges")
    )
    base = df.crossJoin(F.broadcast(edges)).withColumn(
        "__shard",
        F.aggregate(
            "__edges",
            F.lit(0),
            lambda acc, e: acc
            + F.when(F.col(value_col) > e, 1).otherwise(0),
        ),
    ).drop("__edges")
    w = Window.partitionBy("__shard").orderBy(value_col, id_col)
    sizes = base.groupBy("__shard").agg(F.count(F.lit(1)).alias("__cnt"))
    w_off = Window.orderBy("__shard").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = sizes.select(
        "__shard",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__offset"),
    )
    return (
        base.withColumn("__rank", F.row_number().over(w))
        .join(F.broadcast(offsets), "__shard")
        .withColumn(
            out_col, (F.col("__offset") + F.col("__rank")).cast("long")
        )
        .drop("__shard", "__rank", "__offset")
    )


def grouped_prefix_sum(
    df: DataFrame,
    group_col: str,
    order_col: str,
    val_col: str,
    out_col: str = "prefix",
    n_shards: int = 32,
) -> DataFrame:
    """EXCLUSIVE prefix sum of `val_col` over `order_col` within each
    group, without a per-group single-task window — the global_rank
    idiom generalized from counting to summing: approx-percentile
    range shards per group (accuracy only affects balance, never the
    sum), an exact partitioned cumulative window within each shard,
    and broadcast per-shard offset totals. `order_col` values must be
    unique within a group (the caller's relation is typically
    distinct-by-construction).

    Output: input columns + `out_col` = Σ val over rows strictly
    before this row in (group, order) order.

    The input is consumed TWICE (the range-shard edges aggregate and
    the ranked base), and Catalyst replays a lazy lineage once per
    consumer — for skip_simulation that meant the whole row-scale
    unpivot + per-value agg ran twice. The primitive therefore
    lazily materializes its input: every caller passes a value-
    cardinality/histogram-scale relation (per the contract that
    `order_col` is unique per group), so the materialized copy is
    small; an input that is already a checkpoint just pays one extra
    small copy.
    """
    df = materialize(df)
    probs = [i / n_shards for i in range(1, n_shards)]
    edges = df.groupBy(group_col).agg(
        F.percentile_approx(order_col, probs, 10_000).alias("__edges")
    )
    base = (
        df.join(F.broadcast(edges), group_col)
        .withColumn(
            "__shard",
            F.aggregate(
                "__edges",
                F.lit(0),
                lambda acc, e: acc
                + F.when(F.col(order_col) > e, 1).otherwise(0),
            ),
        )
        .drop("__edges")
    )
    w_in = (
        Window.partitionBy(group_col, "__shard")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    shard_tot = base.groupBy(group_col, "__shard").agg(
        F.sum(val_col).alias("__tot")
    )
    w_off = (
        Window.partitionBy(group_col)
        .orderBy("__shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = shard_tot.select(
        group_col,
        "__shard",
        F.coalesce(F.sum("__tot").over(w_off), F.lit(0)).alias("__off"),
    )
    return (
        base.withColumn(
            "__within", F.coalesce(F.sum(val_col).over(w_in), F.lit(0))
        )
        .join(F.broadcast(offsets), [group_col, "__shard"])
        .withColumn(out_col, F.col("__within") + F.col("__off"))
        .drop("__shard", "__within", "__off")
    )
