"""Time-series join operators Spark lacks as built-ins: as-of join
and bucketed range join.

The reference implements no joins at all (SURVEY.md §2 J1); these are
the extension ops a training-data / event pipeline needs. Both are
compositions of existing DataFrame ops — no UDFs — so they stay in
whole-stage codegen and scale with ordinary shuffle machinery.

As-of join (union + window, the scalable formulation):
    Naive formulations are O(left × right) range joins; this one is
    one shuffle + one sort per key: tag both sides, union, window
    over (key, ts) with last(right_payload, ignorenulls) — each left
    row picks up the most recent right row with right.ts <= left.ts.
    At 100 TB this is the textbook shape: a single exchange on the
    join key, linear scan within partitions, no quadratic blowup on
    hot keys.

Range join (time-bucketed):
    Pairs (l, r) with r.ts in [l.ts - before, l.ts]. A plain
    inequality join degenerates to per-key cross products; bucketing
    by `before`-sized time buckets turns it into an equi-join on
    (key, bucket) — each left row probes exactly 2 buckets — then an
    exact range filter. Shuffle volume is 2× left + 1× right.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    right_cols: tuple[str, ...] = (),
    how: str = "inner",
) -> DataFrame:
    """For each left row, attach the latest right row of the same
    `on` key whose ts is <= the left ts. Ties on equal ts attach the
    right row (right sorts before left at the same instant).

    Returns all left columns plus `ts_right` and each of
    `right_cols` suffixed `_right`. ``how='left'`` keeps unmatched left rows
    with nulls; ``'inner'`` drops them (DuckDB ASOF JOIN parity).
    """
    payload = F.struct(
        F.col("ts").alias("__ts"), *[F.col(c) for c in right_cols]
    )
    r = right.select(
        F.col(on).alias("__key"),
        F.col("ts").alias("__ord"),
        F.lit(0).alias("__side"),
        payload.alias("__payload"),
    )
    left_cols = left.columns
    l = left.select(  # noqa: E741
        F.col(on).alias("__key"),
        F.col("ts").alias("__ord"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r.schema["__payload"].dataType).alias("__payload"),
        *[F.col(c) for c in left_cols],
    )
    w = (
        Window.partitionBy("__key")
        .orderBy("__ord", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        l.unionByName(r, allowMissingColumns=True)
        .withColumn("__match", F.last("__payload", ignorenulls=True).over(w))
        .filter(F.col("__side") == 1)
    )
    out = matched.select(
        *left_cols,
        F.col("__match.__ts").alias("ts_right"),
        *[F.col(f"__match.{c}").alias(f"{c}_right") for c in right_cols],
    )
    if how == "inner":
        out = out.filter(F.col("ts_right").isNotNull())
    elif how != "left":
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    return out


def range_join_before(
    left: DataFrame,
    right: DataFrame,
    on: str,
    before_seconds: int,
    left_cols: tuple[str, ...] = (),
    right_cols: tuple[str, ...] = (),
) -> DataFrame:
    """All (left, right) pairs of the same key with
    left.ts - before <= right.ts <= left.ts, via time bucketing.

    Bucket width == the range span, so every qualifying right row is
    in the left row's bucket or the one before: the left side is
    exploded to those 2 buckets and joined equi-style on
    (key, bucket) — no inequality join, no per-key cross product.
    """
    span_us = before_seconds * 1_000_000
    ts_us = F.unix_micros(F.col("ts"))

    l = left.select(  # noqa: E741
        F.col(on).alias("__key"),
        ts_us.alias("__l_us"),
        F.explode(
            F.array(
                F.floor(ts_us / span_us).cast("long"),
                (F.floor(ts_us / span_us) - 1).cast("long"),
            )
        ).alias("__bucket"),
        *[F.col(c).alias(f"l_{c}") for c in left_cols],
    )
    r = right.select(
        F.col(on).alias("__key"),
        ts_us.alias("__r_us"),
        F.floor(ts_us / span_us).cast("long").alias("__bucket"),
        *[F.col(c).alias(f"r_{c}") for c in right_cols],
    )
    pairs = l.join(r, ["__key", "__bucket"]).filter(
        (F.col("__r_us") >= F.col("__l_us") - span_us)
        & (F.col("__r_us") <= F.col("__l_us"))
    )
    return pairs.select(
        F.col("__key").alias(on),
        *[f"l_{c}" for c in left_cols],
        *[f"r_{c}" for c in right_cols],
        F.expr("(__l_us - __r_us) div 1000000").alias("gap_seconds"),
    )
