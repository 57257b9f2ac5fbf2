"""Sketch / quantile operators — the approximate-aggregation surface
a 100 TB pipeline leans on when exact distinct/quantile state would
blow memory.

Three tiers, all built-ins (Datasketches HLL + Tungsten percentile):
- exact percentiles (distributed exact algorithm; fine at metadata
  scale and used as the oracle-checkable tier);
- approx_count_distinct / percentile_approx (bounded-error, fixed
  memory — the default at raw-event scale);
- HLL sketch columns (hll_sketch_agg → hll_union_agg): MERGEABLE
  state, the key scale property — pre-aggregate once per fine bucket,
  then roll up to any coarser granularity by unioning sketches
  instead of re-scanning raw data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Tuning constants of the operators below.
RSD = 0.05


def value_quantiles(events: DataFrame) -> DataFrame:
    """Exact p50/p90/p99 of value per event type (linear
    interpolation — same definition as DuckDB quantile_cont, so this
    tier is hash-checkable cross-engine)."""
    return events.groupBy("event_type").agg(
        F.count("*").alias("event_count"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


def approx_user_stats(events: DataFrame) -> DataFrame:
    """Fixed-memory approximations per event type: HLL distinct users
    (relative std dev RSD) and quantile-sketch percentiles. The
    shuffle carries one sketch per (type, task), never raw values."""
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", RSD).alias("approx_users"),
        F.percentile_approx("value", F.array(F.lit(0.5), F.lit(0.9)), 10000).alias(
            "value_p50_p90"
        ),
    ).select(
        "event_type",
        "approx_users",
        F.round(F.element_at("value_p50_p90", 1), 6).alias("p50_approx"),
        F.round(F.element_at("value_p50_p90", 2), 6).alias("p90_approx"),
    )


def approx_stats_checked(events: DataFrame) -> DataFrame:
    """Hash-checkable projection of the approx-sketch stats: the HLL
    estimate itself is engine-private (its exact value cannot match
    an oracle), but its ERROR CONTRACT can — emit whether the
    estimate lands within 3·RSD of the exact distinct count, computed
    in the same aggregation. The quantile-sketch percentiles pick
    actual data values (discrete quantiles) and are deterministic at
    full sketch accuracy, so those columns hash directly. This is the
    verification-tier sibling of approx_user_stats: it pays an exact
    countDistinct to certify the sketch, so run it on samples/test
    scale, not the full corpus."""
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", RSD).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.percentile_approx(
            "value", F.array(F.lit(0.5), F.lit(0.9)), 10000
        ).alias("qs"),
    ).select(
        "event_type",
        F.round(F.element_at("qs", 1), 6).alias("p50_approx"),
        F.round(F.element_at("qs", 2), 6).alias("p90_approx"),
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.lit(3 * RSD) * F.col("exact_users")
        ).alias("hll_within_bound"),
    )


def approx_top_users(events: DataFrame, k: int = 5) -> DataFrame:
    """Frequent-items sketch per event type: approx_top_k(user_id)
    flattened to (event_type, user_id, est_count, rank) rows. The
    sketch state is fixed-size per group regardless of user
    cardinality — the heavy-hitters shape for power-law keys."""
    topk = events.groupBy("event_type").agg(
        F.expr(f"approx_top_k(user_id, {k})").alias("top")
    )
    return (
        topk.select("event_type", F.posexplode("top").alias("pos", "t"))
        .select(
            "event_type",
            F.col("t.item").alias("user_id"),
            F.col("t.count").cast("long").alias("est_count"),
            (F.col("pos") + 1).cast("long").alias("rank"),
        )
    )


def hourly_user_sketch_rollup(events: DataFrame) -> DataFrame:
    """Mergeable-sketch rollup: build one HLL sketch of user_id per
    (day, hour), then union the hour sketches into daily distinct
    counts. At scale the raw events are scanned ONCE; every coarser
    rollup (day → week → month) unions byte-sized sketches. Output:
    one row per day with the sketch-estimated distinct users and the
    hour count."""
    hourly = (
        events.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.hour("ts").alias("hour"),
        )
        .agg(F.hll_sketch_agg("user_id").alias("sketch"))
    )
    return (
        hourly.groupBy("day")
        .agg(
            F.count("*").alias("hours_covered"),
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(
                "approx_distinct_users"
            ),
        )
    )
