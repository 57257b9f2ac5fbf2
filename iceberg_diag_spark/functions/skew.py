"""Skew mitigation: salted two-stage aggregation.

AQE's skew-join splitting (enabled in session.py) handles skewed
JOINS at runtime, but a groupBy on a pathological key (one key = 30%
of 100 TB) still funnels that key's rows through one reduce task.
Salting splits each key into `n_salts` subkeys for a parallel partial
aggregate, then a cheap second aggregate over n_salts rows per key
merges the partials — the standard two-stage shape for power-law keys
(word counts, user activity, null-heavy dimensions).

Only algebraic aggregates (sum/count/min/max) can be salted this way;
the helper exposes exactly those.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    aggs: dict[str, tuple[str, Column]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage salted aggregation.

    aggs maps output column → (merge_fn_name, partial_expr), where
    merge_fn_name ∈ {'sum', 'min', 'max'} re-combines partials —
    e.g. {"cnt": ("sum", F.count("*")), "mx": ("max", F.max("v"))}.
    Stage 1 groups by (key, random_salt) — uniform fan-out even for a
    single hot key; stage 2 groups by key over n_salts partial rows.
    """
    salted = df.withColumn(
        "__salt", (F.rand(seed=42) * n_salts).cast("int")
    )
    partial = salted.groupBy(*key_cols, "__salt").agg(
        *[expr.alias(f"__p_{name}") for name, (_, expr) in aggs.items()]
    )
    merge = {
        "sum": F.sum,
        "min": F.min,
        "max": F.max,
    }
    return partial.groupBy(*key_cols).agg(
        *[
            merge[fn](f"__p_{name}").alias(name)
            for name, (fn, _) in aggs.items()
        ]
    )


def skew_audit(df: DataFrame, key_col: str, top_k: int = 5) -> DataFrame:
    """Join/agg-key skew diagnostic — the measurement that decides
    whether a key needs salting or AQE skew handling BEFORE the job
    runs at scale: distinct-key count, total rows, and the row share
    of the hottest key(s) in exact parts-per-million.

    A top1_share_ppm near 1e6/n_tasks is healthy; a single key at 30%
    of 100 TB shows up here as 300000 ppm and will funnel through one
    reduce task unless mitigated (see salted_agg). Shape: one count
    aggregate on the key (map-side combine); the global top-k is
    orderBy().limit() — TakeOrderedAndProject, a per-partition
    partial top-k then a k·p-row merge — NOT a partition-less
    row_number window, which would move every (key, count) row to
    one task (a billion-key audit would die there). The rank column
    comes from a window over the k surviving rows only. Output:
    (rank, key_repr, key_rows, total_rows, n_keys, share_ppm) —
    `top_k` rows.

    NULL keys (often the hottest "key" in real data) are folded to
    the '(null)' sentinel BEFORE grouping — both so they show up in
    the audit at all and because engines disagree on NULL placement
    in ORDER BY (Spark ASC = NULLS FIRST, DuckDB ASC = NULLS LAST):
    a NULL tying on key_rows at the top-k boundary would rank or
    truncate differently without the fold."""
    from pyspark.sql.window import Window

    key_repr = F.coalesce(F.col(key_col).cast("string"), F.lit("(null)"))
    counts = df.groupBy(key_repr.alias("key_repr")).agg(
        F.count(F.lit(1)).alias("key_rows")
    )
    totals = counts.agg(
        F.sum("key_rows").alias("total_rows"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    top = (
        counts.orderBy(F.desc("key_rows"), F.asc("key_repr"))
        .limit(top_k)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("key_rows"), F.asc("key_repr"))
            ),
        )
    )
    return top.crossJoin(F.broadcast(totals)).select(
        F.col("rank").cast("long").alias("rank"),
        "key_repr",
        "key_rows",
        "total_rows",
        F.col("n_keys").cast("long").alias("n_keys"),
        F.floor(F.lit(1_000_000.0) * F.col("key_rows") / F.col("total_rows"))
        .cast("long")
        .alias("share_ppm"),
    )


def join_selectivity(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
) -> DataFrame:
    """Pre-flight join-selectivity audit: how much of each side
    actually participates in an equi-join on `key_col` — matched row
    counts and ppm shares per side, plus key-overlap counts —
    WITHOUT running the join. The companion to join_cardinality: that
    one predicts output size (explosion risk), this one predicts
    INPUT waste (a 3% match rate on a 100 TB side says to semi-join
    or runtime-filter that scan first; Spark's own bloom-filter
    pushdown decides from exactly this shape).

    Same scale posture as join_cardinality: per-side key-count
    aggregates (map-side combinable, #distinct-keys-sized shuffles)
    full-outer-joined on the key, folded to one row. NULL keys never
    match in an equi-join, and a full-outer join on the key keeps
    them unmatched here too — the accounting agrees with the real
    join by construction. Output: one row (n_left, n_right,
    n_keys_left, n_keys_right, n_keys_both, matched_left,
    matched_right, match_left_ppm, match_right_ppm)."""
    lc = left.groupBy(F.col(key_col).cast("string").alias("k")).agg(
        F.count(F.lit(1)).alias("cl")
    )
    rc = right.groupBy(F.col(key_col).cast("string").alias("k")).agg(
        F.count(F.lit(1)).alias("cr")
    )
    j = lc.join(rc, "k", "full")
    agg = j.agg(
        F.sum("cl").cast("long").alias("n_left"),
        F.sum("cr").cast("long").alias("n_right"),
        F.count("cl").alias("n_keys_left"),
        F.count("cr").alias("n_keys_right"),
        F.count(F.when(F.col("cl").isNotNull() & F.col("cr").isNotNull(), 1))
        .alias("n_keys_both"),
        F.sum(F.when(F.col("cr").isNotNull(), F.col("cl")).otherwise(0))
        .cast("long")
        .alias("matched_left"),
        F.sum(F.when(F.col("cl").isNotNull(), F.col("cr")).otherwise(0))
        .cast("long")
        .alias("matched_right"),
    )
    return agg.select(
        "*",
        F.floor(F.lit(1_000_000.0) * F.col("matched_left") / F.col("n_left"))
        .cast("long")
        .alias("match_left_ppm"),
        F.floor(F.lit(1_000_000.0) * F.col("matched_right") / F.col("n_right"))
        .cast("long")
        .alias("match_right_ppm"),
    )


def join_cardinality(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
) -> DataFrame:
    """Join-explosion detector: the EXACT output cardinality an
    equi-join on `key_col` would produce, plus the single worst key's
    contribution — computed from two key-count aggregates joined on
    distinct keys, WITHOUT running the join. The pre-flight check
    before a 100 TB ⋈ 100 TB: est rows = Σ_k cnt_l(k)·cnt_r(k) is
    exact for inner equi-joins, and a worst_key_rows near the total
    says one hot key produces the bulk of the output (salt or filter
    it first). Shuffles only (key, count) rows — #distinct-keys sized,
    not input sized. Output: one row (n_left, n_right, n_join_keys,
    join_rows, worst_key_repr, worst_key_rows)."""
    # deliberately NOT checkpointed: pinning lc/rc to derive the side
    # totals from them (Σ counts = count(*)) read a consistent
    # +25-50% across four A/B pairs — the
    # two barrier materializations cost more than the two
    # column-pruned count scans they replace on a box that runs the
    # replayed branches in parallel
    lc = left.groupBy(F.col(key_col).cast("string").alias("k")).agg(
        F.count(F.lit(1)).alias("cl")
    )
    rc = right.groupBy(F.col(key_col).cast("string").alias("k")).agg(
        F.count(F.lit(1)).alias("cr")
    )
    per_key = lc.join(rc, "k").select(
        "k", (F.col("cl") * F.col("cr")).alias("contrib")
    )
    totals_l = left.agg(F.count(F.lit(1)).alias("n_left"))
    totals_r = right.agg(F.count(F.lit(1)).alias("n_right"))
    worst = F.max(F.struct(F.col("contrib"), F.col("k")))
    agg = per_key.agg(
        F.count(F.lit(1)).alias("n_join_keys"),
        F.sum("contrib").cast("long").alias("join_rows"),
        worst["k"].alias("worst_key_repr"),
        worst["contrib"].cast("long").alias("worst_key_rows"),
    )
    return (
        agg.crossJoin(F.broadcast(totals_l))
        .crossJoin(F.broadcast(totals_r))
        .select(
            "n_left", "n_right", "n_join_keys", "join_rows",
            "worst_key_repr", "worst_key_rows",
        )
    )
