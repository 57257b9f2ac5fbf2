"""Schema/data profiling — the audit pass a pipeline runs before
training on a new table drop: per-column null rates, cardinalities,
and value ranges, computed in ONE scan regardless of column count.

All per-column metrics are expressions inside a single aggregate
(Spark evaluates them in the same whole-stage-codegen pass), then the
one-row result is unpivoted driver-side into a row per column — the
unpivot is over a 1-row relation, so the only cluster work is the
scan + partial aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from iceberg_diag_spark.functions.parallel import ensure_parallelism, materialize

# kind → (min repr, max repr) as deterministic cross-engine strings:
# numerics via floor-cents (double formatting differs between
# engines), timestamps via an explicit format, strings as-is.
_REPRS = {
    "int": lambda c: F.min(c).cast("long").cast("string"),
    "num": lambda c: F.floor(F.min(c) * 100).cast("long").cast("string"),
    "str": lambda c: F.min(c),
    "ts": lambda c: F.date_format(F.min(c), "yyyy-MM-dd HH:mm:ss"),
}
_REPRS_MAX = {
    "int": lambda c: F.max(c).cast("long").cast("string"),
    "num": lambda c: F.floor(F.max(c) * 100).cast("long").cast("string"),
    "str": lambda c: F.max(c),
    "ts": lambda c: F.date_format(F.max(c), "yyyy-MM-dd HH:mm:ss"),
}


def profile(df: DataFrame, kinds: dict[str, str]) -> DataFrame:
    """Profile the given columns (name → kind in {int,num,str,ts}).
    Output: (column_name, n_rows, n_nulls, n_distinct, min_repr,
    max_repr) — one row per profiled column."""
    # The multi-countDistinct aggregate plans through an Expand
    # (input ×(k+1) rows before the partial agg) — heavy map-side
    # work that must not run on a single unsplittable-scan task.
    df = ensure_parallelism(df)
    # Two single-row aggregates instead of one: mixing min/max (whose
    # string buffers force SortAggregate) into the Expand branch would
    # sort the ×(k+1) expanded relation — the dominant cost. Split
    # so the expanded branch keeps fixed-width buffers only
    # (HashAggregate, no sort) and the string min/max run over the
    # UN-expanded input (global agg, no required ordering → no sort).
    # The 1×1 cross join that reunites them is free.
    count_aggs = [F.count(F.lit(1)).alias("__n")]
    mm_aggs = []
    for name, kind in kinds.items():
        c = F.col(name)
        count_aggs += [
            F.sum(c.isNull().cast("long")).alias(f"{name}__nulls"),
            F.countDistinct(c).alias(f"{name}__distinct"),
        ]
        mm_aggs += [
            _REPRS[kind](c).alias(f"{name}__min"),
            _REPRS_MAX[kind](c).alias(f"{name}__max"),
        ]
    one = df.agg(*count_aggs).crossJoin(df.agg(*mm_aggs))
    # Unpivot via stack() so the aggregate is ONE subplan — a union
    # of per-column selects over `one` would re-embed (and re-run)
    # the scan+aggregate once per column.
    stack_args = []
    for name in kinds:
        stack_args += [
            f"'{name}'",
            f"`{name}__nulls`",
            f"`{name}__distinct`",
            f"`{name}__min`",
            f"`{name}__max`",
        ]
    return one.select(
        F.col("__n").alias("n_rows"),
        F.expr(
            f"stack({len(kinds)}, {', '.join(stack_args)}) AS "
            "(column_name, n_nulls, n_distinct, min_repr, max_repr)"
        ),
    ).select(
        "column_name", "n_rows", "n_nulls", "n_distinct", "min_repr",
        "max_repr",
    )


def rfm_segments(orders: DataFrame) -> DataFrame:
    """Customer RFM (recency / frequency / monetary) segmentation —
    the standard customer-value grid, computed with EXACT equal-count
    bins at any scale. Each customer is ranked on each dimension by
    the count mode of `shuffling.grouped_prefix_sum` (range-sharded
    windows + broadcast offsets, never a single-task global sort),
    then binned with seg = 1 + floor(bins·(rank−1)/n).
    Ties break on custkey, so the grid is bit-deterministic.

    Segment semantics: r_seg 1 = most recent purchasers (ascending
    recency_days), f_seg/m_seg 5 = most frequent / highest
    spend. Output is the ≤ 5³ grid: (r_seg, f_seg, m_seg,
    n_customers, monetary_cents_total).

    Money is floor-cents per order line before summing (the repo-wide
    exact-integer money rule); recency is whole days against the
    corpus max order date (a 1-row broadcast scalar).
    """
    from iceberg_diag_spark.operators.shuffling import grouped_prefix_sum

    per = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("monetary_cents"),
    )
    maxd = orders.agg(F.max("o_orderdate").alias("__maxd"))
    base = (
        per.crossJoin(F.broadcast(maxd))
        .withColumn(
            "recency_days",
            F.datediff(F.col("__maxd"), F.col("last_order")).cast("long"),
        )
        .drop("__maxd")
    )
    for dim, col in (
        ("r", "recency_days"),
        ("f", "frequency"),
        ("m", "monetary_cents"),
    ):
        # each rank reads its input three times: pin it so the
        # upstream aggregate and the earlier ranks run once
        base = grouped_prefix_sum(
            materialize(base), [], [col, "o_custkey"], out_cols=[f"__{dim}"]
        )
    segs = [
        (
            F.lit(1)
            + F.floor(
                F.lit(5.0) * F.col(f"__{d}") / F.col(f"__{d}_total")
            )
        )
        .cast("long")
        .alias(f"{d}_seg")
        for d in ("r", "f", "m")
    ]
    return (
        base.select(*segs, "monetary_cents")
        .groupBy("r_seg", "f_seg", "m_seg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("monetary_cents").cast("long").alias(
                "monetary_cents_total"
            ),
        )
    )


def part_affinity(
    lineitem: DataFrame, min_co_orders: int = 3
) -> DataFrame:
    """Market-basket affinity over order line items: for every pair
    of parts co-occurring in ≥ `min_co_orders` orders, exact support
    and lift — the association-mining table behind bundling /
    substitution analysis (lift > 1e6 ppm ⇒ the parts co-occur more
    than independence predicts).

    Exact rational arithmetic end-to-end: lift = P(a∧b)/(P(a)·P(b))
    = co·N / (cnt_a·cnt_b) over order counts, published as
    lift_ppm = (1e6·co·N) DIV (cnt_a·cnt_b) — 64-bit INTEGER
    division (never a double: the numerator exceeds 2^53 long before
    it nears int64), identical on any engine.

    Scale shape: the pair expansion self-joins the distinct
    (order, part) relation on the order key — per-order work is
    quadratic in BASKET size (bounded small by the domain), linear in
    orders. One distinct + one self-join + two aggregates; the
    per-part counts and the scalar order count broadcast back.

    Output: (part_a, part_b, co_orders, orders_a, orders_b,
    lift_ppm), part_a < part_b.
    """
    # five consumers (per-part counts joined twice, both self-join
    # sides, the order count)
    op = materialize(
        ensure_parallelism(lineitem)
        .select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        .distinct()
    )
    cnt = op.groupBy("pk").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    n_orders = op.select("ok").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    a = op.select("ok", F.col("pk").alias("part_a"))
    b = op.select("ok", F.col("pk").alias("part_b"))
    co = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("co_orders"))
        .filter(F.col("co_orders") >= min_co_orders)
    )
    # no broadcast hint on the per-part counts: the relation's size
    # is the part-catalog cardinality (data-dependent) — AQE picks
    # broadcast when it actually fits (the boilerplate_removal
    # lesson); only the 1-row order count is forced broadcast.
    return (
        co.join(
            cnt.select(F.col("pk").alias("part_a"), F.col("cnt").alias("orders_a")),
            "part_a",
        )
        .join(
            cnt.select(F.col("pk").alias("part_b"), F.col("cnt").alias("orders_b")),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "co_orders",
            "orders_a",
            "orders_b",
            F.expr(
                "(1000000L * co_orders * n_orders) DIV (orders_a * orders_b)"
            ).alias("lift_ppm"),
        )
    )


def benford_audit(df: DataFrame, value_col: str) -> DataFrame:
    """Benford first-digit audit over a positive numeric column — the
    classic fabricated/synthetic-data detector for financial and
    measurement fields: naturally occurring multiplicative amounts
    put digit d first with probability log10(1 + 1/d); uniform or
    hand-entered data does not.

    Exactness: amounts quantize to integer units (floor ·100) and
    the leading digit comes from the DECIMAL STRING of that integer
    (substring of a bigint cast — bit-identical on any engine; a
    float log10-of-value digit extraction would wobble at exact
    powers of ten). Observed shares are exact integer DIV ppm;
    expected shares are the one fixed-shape double expression
    floor(1e6·log10(1 + 1/d)).

    Shape: one scan, one 9-group hash aggregate (map-side combine
    collapses each task to ≤ 9 rows), one broadcast 1-row total.
    Output per leading digit 1–9: (digit, n_rows, observed_ppm,
    expected_ppm, delta_ppm).
    """
    units = F.floor(F.col(value_col) * F.lit(100)).cast("long")
    d = (
        ensure_parallelism(df)
        .filter(F.col(value_col) > 0)
        .select(
            F.substring(units.cast("string"), 1, 1)
            .cast("long")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )
    total = d.agg(F.sum("n_rows").cast("long").alias("n_total"))
    return (
        d.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n_rows",
            F.expr("(1000000 * n_rows) DIV n_total").alias("observed_ppm"),
            F.floor(
                F.lit(1_000_000.0)
                * F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
            )
            .cast("long")
            .alias("expected_ppm"),
        )
        .withColumn(
            "delta_ppm", F.col("observed_ppm") - F.col("expected_ppm")
        )
    )


def return_survival(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Kaplan-Meier survival curve of return risk over fulfillment
    latency — survival analysis with right-censoring, the estimator
    behind "does a slower-to-ship item come back more often?". Each
    line item enters the risk set at order time and leaves when it
    ships (t = shipdate − orderdate days): a RETURNED item
    (l_returnflag = 'R') is the terminal event at its t; a kept item
    is right-censored there (it stops being observable, it did not
    survive less). S(t) = Π_{u≤t} (1 − d_u/n_u) with d_u returns at
    latency day u and n_u the at-risk count (ship day ≥ u) — the
    textbook product-limit estimator with ties handled per
    convention (deaths before censors at the same t).

    Integer-exact fold: survival compounds in ppm scale as
    s_t = (s_{t−1} · (n_t − d_t)) DIV n_t starting from 1e6 — floor
    each step, bit-identical in any engine (the oracle replays it as
    a recursive CTE; s·n ≤ 1e6·|corpus| fits a 64-bit long to
    ~9·10¹² rows). The day grid is BOUNDED (|distinct transit days|
    ≈ thousands — metadata scale), so the at-risk suffix sum, the sorted
    array fold, and the window all operate on a tiny relation; the
    corpus contributes exactly one hash aggregate.

    The orderkey equi-join is the standard co-partitioned fact join
    (same shape as TPC-H q3/q10); everything after it is one hash
    aggregate into the bounded day grid.

    Output per distinct latency day: (latency_days, n_at_risk,
    n_returned, n_censored, hazard_ppm, survival_ppm).
    """
    per_day = (
        lineitem.join(
            orders.select("o_orderkey", "o_orderdate"),
            lineitem["l_orderkey"] == orders["o_orderkey"],
        )
        .select(
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
            .cast("long")
            .alias("t"),
            (F.col("l_returnflag") == "R").cast("long").alias("r"),
        )
        .groupBy("t")
        .agg(
            F.sum("r").alias("d"),
            F.sum(F.lit(1) - F.col("r")).alias("c"),
        )
    )
    series = per_day.groupBy().agg(
        F.expr(
            "array_sort(collect_list(named_struct("
            "'t', t, 'd', cast(d as bigint), 'c', cast(c as bigint))))"
        ).alias("h")
    )
    out_t = (
        "array<struct<t:bigint,d:bigint,c:bigint,n:bigint,s:bigint>>"
    )
    # total at-risk pool, then walk days in order: n_t is the pool
    # not yet shipped; survival compounds by the floor rule above
    fold = f"""
    aggregate(
      h,
      named_struct(
        'n', aggregate(h, cast(0 as bigint), (a, x) -> a + x.d + x.c),
        's', cast(1000000 as bigint),
        'out', cast(array() as {out_t})),
      (acc, x) -> named_struct(
        'n', acc.n - x.d - x.c,
        's', (acc.s * (acc.n - x.d)) DIV acc.n,
        'out', array_append(acc.out, named_struct(
          't', x.t, 'd', x.d, 'c', x.c, 'n', acc.n,
          's', (acc.s * (acc.n - x.d)) DIV acc.n))),
      acc -> acc.out)
    """
    return series.select(
        F.explode(F.expr(fold)).alias("a")
    ).select(
        F.col("a.t").alias("latency_days"),
        F.col("a.n").alias("n_at_risk"),
        F.col("a.d").alias("n_returned"),
        F.col("a.c").alias("n_censored"),
        F.expr("CAST(1000000 * a.d DIV a.n AS BIGINT)").alias(
            "hazard_ppm"
        ),
        F.col("a.s").alias("survival_ppm"),
    )


def cohort_ltv(orders: DataFrame) -> DataFrame:
    """Customer-lifetime-value curves by acquisition cohort — the
    retention economics table behind "are newer cohorts monetizing
    faster?": customers cohort by their FIRST order month, and each
    cohort accumulates order revenue across month offsets, normalized
    per cohort member. The revenue-weighted complement of
    user_retention_cohorts (which counts activity, not value).

    Integer-exact: months are y·12+m integers (no date subtraction
    ambiguity), money is floor-cents summed exactly, and the
    per-customer normalization floors once. Two hash aggregates share
    the o_custkey shuffle (first-month, then cohort rollup); the
    cumulative window runs over the bounded cohort × offset grid
    (SCALING.md §5), partitioned BY cohort so no single-task funnel.

    Output: (cohort_month, month_offset, n_active, revenue_cents,
    cum_revenue_cents, cum_ltv_cents) — cohort_month as 'yyyy-MM',
    n_active = distinct buyers that offset, cum_ltv_cents =
    cumulative revenue DIV cohort size.
    """
    from pyspark.sql.window import Window

    mnum = (
        F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
    ).cast("long")
    o = orders.select(
        "o_custkey",
        mnum.alias("m"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    # first-month relation (16 B/customer) feeds cohort sizes AND the
    # per-cell join — pin it so the o_custkey aggregate runs once
    first = o.groupBy("o_custkey").agg(F.min("m").alias("m0"))
    first = materialize(first)
    cohort_sizes = first.groupBy("m0").agg(
        F.countDistinct("o_custkey").alias("cohort_size")
    )
    per_cell = (
        o.join(first, "o_custkey")
        .groupBy("m0", (F.col("m") - F.col("m0")).alias("month_offset"))
        .agg(
            F.countDistinct("o_custkey").alias("n_active"),
            F.sum("cents").alias("revenue_cents"),
        )
    )
    w = (
        Window.partitionBy("m0")
        .orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        per_cell.join(F.broadcast(cohort_sizes), "m0")
        .withColumn("cum", F.sum("revenue_cents").over(w))
        .select(
            F.concat_ws(
                "-",
                F.lpad((F.col("m0") / 12).cast("long").cast("string"), 4, "0"),
                F.lpad((F.col("m0") % 12 + 1).cast("string"), 2, "0"),
            ).alias("cohort_month"),
            F.col("month_offset").cast("long").alias("month_offset"),
            F.col("n_active").cast("long").alias("n_active"),
            F.col("revenue_cents").cast("long").alias("revenue_cents"),
            F.col("cum").cast("long").alias("cum_revenue_cents"),
            F.expr(
                "CAST(cum DIV cohort_size AS BIGINT)"
            ).alias("cum_ltv_cents"),
        )
    )
