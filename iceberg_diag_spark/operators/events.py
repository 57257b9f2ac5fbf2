"""Batch analytics over the event stream table (streaming versions
live in iceberg_diag_spark.streaming).

Determinism notes for oracle parity: time arithmetic is done on
integer epoch-microseconds (unix_micros), window starts are rendered
as formatted strings, and monetary sums use floor-to-integer-cents —
all bit-stable across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window, WindowSpec

from iceberg_diag_spark.functions.parallel import ensure_parallelism, materialize

# Columns and tuning constants of the operators below.
EVENT_ID = "event_id"
KEY_COLS = ("user_id", "event_type")
LAG_MONTHS = 12

SESSION_GAP_MINUTES = 30


def hourly_rollup(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour windows per event type: counts, distinct
    users, value sum (cents). Single shuffle on (hour, type); at
    scale this is the canonical pre-aggregated rollup (map-side
    combine shrinks the shuffle to one row per group per task)."""
    hour = F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00:00")
    return (
        events.groupBy(hour.alias("window_start"), F.col("event_type"))
        .agg(
            F.count("*").alias("event_count"),
            F.countDistinct("user_id").alias("distinct_users"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
    )


def _session_start(gap_minutes: int) -> tuple[Column, WindowSpec]:
    """The gap rule: 1 where an event starts a session — its user's
    first event, or more than ``gap_minutes`` after the previous one
    — else 0, over the (user_id; ts, event_id) window, which is
    returned too for the running session number."""
    ts_us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy(ts_us, F.col("event_id"))
    gap = ts_us - F.lag(ts_us).over(w)
    gap_us = gap_minutes * 60 * 1_000_000
    return F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0), w


def sessionize(events: DataFrame) -> DataFrame:
    """Gap-based sessionization (batch): a new session starts when
    the gap to the previous event of the same user exceeds
    SESSION_GAP_MINUTES. Output: one row per session with bounds and
    count.

    Two stacked windows over the SAME partitioning (user_id, ordered
    by ts) — Spark plans them as one shuffle + one sort, then the
    session rollup reuses the user_id shuffle. Skew: a pathological
    single user's events still fit one task at metadata-ish rates;
    for adversarial skew pre-split by (user_id, day)."""
    is_start, w = _session_start(SESSION_GAP_MINUTES)
    flagged = events.select(
        "user_id", "event_id", F.col("ts"), is_start.alias("is_session_start")
    )
    with_ids = flagged.withColumn(
        "session_seq",
        F.sum("is_session_start").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        with_ids.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("event_count"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        )
    )


def json_props_rollup(events: DataFrame) -> DataFrame:
    """Dot-path JSON access (SURVEY §2 P5/F6): extract props.k and
    roll up. get_json_object stays JVM-side; no JSON parse in
    Python."""
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.select(F.col("event_type"), k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("event_count"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


def interevent_stats(events: DataFrame) -> DataFrame:
    """Per-user inter-event gap statistics — the cadence profile used
    for bot filtering and session-model calibration. One window pass
    partitioned by user (ordered by ts with event_id as the
    deterministic tie-break) computes lag gaps; a grouped aggregate
    reduces them. Both steps share the user_id shuffle. Output:
    (user_id, n_events, span_us, avg_gap_seconds, max_gap_us)
    for users with ≥ 2 events."""
    # Integer microseconds end-to-end: epoch-seconds casts floor away
    # sub-second components differently across engines; unix_micros
    # is exact and matches DuckDB's epoch_us.
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    gapped = events.select("user_id", "ts", "event_id").withColumn(
        "gap_us", gap
    )
    return (
        gapped.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max(F.unix_micros(F.col("ts"))) - F.min(F.unix_micros(F.col("ts")))).alias(
                "span_us"
            ),
            F.round(F.avg("gap_us") / 1e6, 6).alias("avg_gap_seconds"),
            F.max("gap_us").alias("max_gap_us"),
        )
        .filter(F.col("n_events") >= 2)
    )


# Monday anchor for integer week arithmetic — date_trunc('week')
# agrees across engines today, but floor((date - anchor)/7) is
# provably identical everywhere.
_WEEK_ANCHOR = "1995-01-02"


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Weekly retention cohorts: users grouped by their first-seen
    week, counted as active in each later week. Two aggregations
    sharing the user_id shuffle (first-seen week, then distinct users
    per (cohort, offset)); week ids are pure integer date arithmetic.
    Output: (cohort_week, weeks_since, active_users)."""
    week = F.floor(
        F.datediff(F.col("ts").cast("date"), F.lit(_WEEK_ANCHOR).cast("date"))
        / 7
    ).cast("long")
    ue = events.select("user_id", week.alias("week"))
    first = ue.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        ue.join(first, "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("weeks_since"))
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


def user_event_paths(events: DataFrame) -> DataFrame:
    """Behavioral path mining: each user's first 5 event
    types in time order, rolled up to (path, n_users, min_user_id) —
    the funnel-discovery table (which entry sequences actually occur,
    and how common each is).

    The per-user prefix is a row_number ≤ k filter (map-side
    WindowGroupLimit — no user's full history is shuffled), then one
    aggregate builds the ordered path string row-locally via
    sort_array over (rank, type) structs. Ties are impossible by
    construction: rank is unique per user. Two shuffles total, both
    on user_id, then one on path."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prefix = (
        events.select(
            "user_id", "event_type", F.row_number().over(w).alias("rk")
        )
        .filter(F.col("rk") <= 5)
    )
    paths = prefix.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("rk"), F.col("event_type")))
                ),
                lambda s: s["event_type"],
            ),
            "->",
        ).alias("path")
    )
    return paths.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("user_id").alias("min_user_id"),
    )


def cdc_latest_rows(events: DataFrame) -> DataFrame:
    """CDC latest-row-wins compaction: for every key, keep the newest
    version (by timestamp, id as the deterministic tie-break) and
    report how many superseded versions it shadows — the
    merge-on-read upsert semantics an Iceberg v2 table applies at
    read time, expressed as one window pass (Catalyst turns the
    rn = 1 filter into a map-side WindowGroupLimit; the version count
    rides the same window, so one shuffle total).

    Output: (user_id, event_type, last_event_id, last_value_cents,
    n_versions).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(*KEY_COLS).orderBy(
        F.desc("ts"), F.desc(EVENT_ID)
    )
    wcnt = Window.partitionBy(*KEY_COLS)
    return (
        events.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wcnt))
        .filter(F.col("__rn") == 1)
        .select(
            *KEY_COLS,
            F.col(EVENT_ID).cast("long").alias("last_event_id"),
            F.floor(F.col("value") * 100).cast("long").alias("last_value_cents"),
            F.col("__n").cast("long").alias("n_versions"),
        )
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for each ordered (src → dst) event-type pair, how
    often it occurs, how many distinct users make it, and its
    conditional probability given src — the behavioral-model
    companion to user_event_paths (which mines entry *prefixes*;
    this captures the whole chain's local structure, e.g. "after
    `click`, 62% of next events are `view`").

    One lag window per user (shuffle on user_id, the uniform key),
    one hash-aggregate on the (src, dst) pair, then the per-src
    row totals ride a tiny window over the aggregated matrix —
    |event_types|² rows, trivially one task. prob_ppm is an exact
    integer: floor(1e6 · n_trans / src_total).

    Output: (src, dst, n_trans, n_users, prob_ppm).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        events.select(
            "user_id",
            F.lag("event_type").over(w).alias("src"),
            F.col("event_type").alias("dst"),
        )
        .filter(F.col("src").isNotNull())
    )
    counts = trans.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("long").alias("n_trans"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    wsrc = Window.partitionBy("src")
    return counts.withColumn(
        "prob_ppm",
        F.floor(
            F.lit(1_000_000.0) * F.col("n_trans") / F.sum("n_trans").over(wsrc)
        ).cast("long"),
    )


def disorder_audit(
    events: DataFrame,
    late_threshold_us: int = 60_000_000,
    n_shards: int = 32,
) -> DataFrame:
    """Watermark calibration audit: how out-of-order does the stream
    actually arrive? For each event (in arrival order = event_id),
    lateness is how far its event-time sits behind the maximum
    event-time already seen — exactly the quantity a streaming
    watermark must cover; withWatermark(X) drops every event whose
    lateness exceeds X, so this table (max and threshold-exceeding
    lateness per event type) IS the evidence for choosing X.

    A running max over global arrival order is inherently sequential,
    but distributes with the range-shard + broadcast-prefix idiom
    (shuffling.grouped_prefix_sum's shape, with max as the combine):
    shard by event_id ranges (approx-percentile boundaries — accuracy
    only affects balance), compute the within-shard running max with a
    partitioned window, then lift each row by the broadcast prefix-max of all
    PRIOR shards (n_shards scalars). No global window, no single-task
    sort.

    Output: (event_type, n_events, n_late, max_lateness_us,
    total_lateness_us) where n_late counts events arriving more than
    `late_threshold_us` behind the running event-time frontier.
    """
    late = _lateness(events, n_shards)
    return late.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(
            F.when(F.col("lateness_us") > late_threshold_us, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_late"),
        F.max("lateness_us").cast("long").alias("max_lateness_us"),
        F.sum("lateness_us").cast("long").alias("total_lateness_us"),
    )


def _lateness(events: DataFrame, n_shards: int = 32) -> DataFrame:
    """Per-event lateness behind the running event-time frontier in
    arrival order — the shared core of disorder_audit and
    watermark_advisor (see disorder_audit for the range-shard +
    broadcast-prefix formulation). Output columns: event_id,
    event_type, ts_us, lateness_us."""
    ts_us = F.unix_micros(F.col("ts"))
    # three consumers (percentile edges, running max, per-shard max);
    # `sharded` below has two
    base = materialize(events.select(
        F.col("event_id"), F.col("event_type"), ts_us.alias("ts_us")
    ))
    probs = [i / n_shards for i in range(1, n_shards)]
    edges = base.agg(
        F.percentile_approx("event_id", probs, 10_000).alias("__edges")
    )
    sharded = materialize(
        base.crossJoin(F.broadcast(edges))
        .withColumn(
            "__shard",
            F.aggregate(
                "__edges",
                F.lit(0),
                lambda acc, e: acc
                + F.when(F.col("event_id") > e, 1).otherwise(0),
            ),
        )
        .drop("__edges")
    )
    w_run = (
        Window.partitionBy("__shard")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    shard_max = sharded.groupBy("__shard").agg(F.max("ts_us").alias("__mx"))
    w_prefix = Window.orderBy("__shard").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prefix = shard_max.select(
        "__shard", F.max("__mx").over(w_prefix).alias("__prior_max")
    )
    late = (
        sharded.withColumn("__in_shard_max", F.max("ts_us").over(w_run))
        .join(F.broadcast(prefix), "__shard")
        # greatest() skips NULLs: first-in-shard rows fall back to the
        # prior-shard max, shard 0's first row stays NULL (lateness 0).
        .withColumn(
            "__frontier",
            F.greatest(F.col("__in_shard_max"), F.col("__prior_max")),
        )
        .withColumn(
            "lateness_us",
            F.greatest(
                F.coalesce(F.col("__frontier") - F.col("ts_us"), F.lit(0)),
                F.lit(0),
            ).cast("long"),
        )
    )
    return late.select("event_id", "event_type", "ts_us", "lateness_us")


# Candidate watermark delays for the advisor: 1 s, 10 s, 1 min, 10 min.
WATERMARK_CANDIDATES_US = (1_000_000, 10_000_000, 60_000_000, 600_000_000)


def watermark_advisor(events: DataFrame) -> DataFrame:
    """Watermark POLICY table — the decision disorder_audit's raw
    stats feed: for each (event_type, candidate watermark delay),
    exactly how many events `withWatermark(delay)` would drop
    (lateness beyond the delay = arrived after the frontier passed
    their admission window). Pick the smallest candidate whose
    drop_ppm is acceptable; a type whose drop rate stays high even at
    the largest candidate needs upstream reordering, not a bigger
    watermark.

    One lateness pass (shared _lateness core, no global window), one
    aggregate with a conditional sum per candidate, then a
    metadata-size stack() unpivot — cost is independent of the
    number of candidates until the unpivot (|types|·|candidates|
    rows).

    Output: (event_type, watermark_us, n_events, n_dropped,
    drop_ppm).
    """
    late = _lateness(events)
    aggs = [F.count(F.lit(1)).cast("long").alias("n_events")]
    for c in WATERMARK_CANDIDATES_US:
        aggs.append(
            F.sum(F.when(F.col("lateness_us") > c, 1).otherwise(0))
            .cast("long")
            .alias(f"d{c}")
        )
    g = late.groupBy("event_type").agg(*aggs)
    stack_args = ", ".join(f"{c}L, d{c}" for c in WATERMARK_CANDIDATES_US)
    return g.select(
        "event_type",
        "n_events",
        F.expr(
            f"stack({len(WATERMARK_CANDIDATES_US)}, {stack_args})"
            " AS (watermark_us, n_dropped)"
        ),
    ).select(
        "event_type",
        "watermark_us",
        "n_events",
        "n_dropped",
        F.floor(
            F.lit(1_000_000.0) * F.col("n_dropped") / F.col("n_events")
        )
        .cast("long")
        .alias("drop_ppm"),
    )


def watermark_recommendation(
    events: DataFrame,
    target_ppm: int = 1_000,
) -> DataFrame:
    """The advisor's DECISION: per event type, the smallest candidate
    watermark delay whose drop rate meets the target (drop_ppm <=
    target_ppm) — or, when even the largest candidate misses it, that
    largest candidate flagged meets_target=false (the "fix upstream
    reordering, don't widen the watermark" signal). Closes the loop
    on watermark_advisor, which emits the whole sweep and leaves the
    pick to the reader; the streaming twin
    (stream_ops.watermark_advisor_stream) emits this same row live
    from keyed per-type state.

    Cost on top of the advisor sweep: one aggregate over the
    |types|·|candidates| policy relation (metadata scale). The pick
    is a conditional struct-min — smallest qualifying delay — with a
    struct-max fallback, both deterministic.

    Output: (event_type, n_events, recommended_watermark_us,
    n_dropped, drop_ppm, meets_target).
    """
    adv = watermark_advisor(events)
    picked = F.struct("watermark_us", "n_dropped", "drop_ppm")
    g = adv.groupBy("event_type", "n_events").agg(
        F.min(
            F.when(F.col("drop_ppm") <= target_ppm, picked)
        ).alias("__ok"),
        F.max(picked).alias("__fb"),
    )
    sel = F.coalesce(F.col("__ok"), F.col("__fb"))
    return g.select(
        "event_type",
        "n_events",
        sel.getField("watermark_us").alias("recommended_watermark_us"),
        sel.getField("n_dropped").alias("n_dropped"),
        sel.getField("drop_ppm").alias("drop_ppm"),
        F.col("__ok").isNotNull().alias("meets_target"),
    )


def user_transition_typicality(events: DataFrame) -> DataFrame:
    """Behavioral-anomaly score per user: how typical are this
    user's event-type transitions under the corpus-wide first-order
    Markov matrix (event_transitions)? Bots and scripted traffic
    walk low-probability edges; engaged humans follow the common
    paths. No logarithm anywhere — typicality is summarized as the
    mean and minimum transition probability (ppm, exact integers),
    which orders users the same way a perplexity would without
    leaving integer arithmetic.

    Shape: one lag window per user (shuffle on user_id), the
    |types|² transition matrix broadcast back, one aggregate.
    Output: (user_id, n_transitions, mean_prob_ppm, min_prob_ppm).
    """
    matrix = event_transitions(events).select("src", "dst", "prob_ppm")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            "user_id",
            F.lag("event_type").over(w).alias("src"),
            F.col("event_type").alias("dst"),
        )
        .filter(F.col("src").isNotNull())
    )
    return (
        pairs.join(F.broadcast(matrix), ["src", "dst"])
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_transitions"),
            F.floor(F.avg("prob_ppm")).cast("long").alias("mean_prob_ppm"),
            F.min("prob_ppm").cast("long").alias("min_prob_ppm"),
        )
    )


def scd2_build(events: DataFrame) -> DataFrame:
    """Type-2 slowly-changing-dimension history from a CDC-style
    change stream: treat each event as setting its user's current
    state to `event_type`, collapse consecutive repeats of the same
    state into one run, and emit one validity interval per run —
    the standard MERGE-free SCD2 build a warehouse runs after
    ingesting a change feed (the interval-history complement of
    events_cdc_dedup's latest-row projection).

    Distributed shape: both window passes share ONE partitioning
    (user_id, ordered by event-time then event_id for a total
    deterministic order under timestamp ties) — Catalyst plans a
    single shuffle and sorts once; no corpus-wide window exists.
    Time is integer epoch-micros end to end.

    Output: (user_id, state, valid_from_us, valid_to_us,
    version_seq, is_current) where valid_to_us is NULL on the open
    interval, version_seq is the 1-based run index per user, and
    half-open intervals [valid_from_us, valid_to_us) tile each
    user's observed lifetime exactly.
    """
    ts_us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy(ts_us, F.col("event_id"))
    runs = (
        events.select(
            "user_id",
            F.col("event_type").alias("state"),
            ts_us.alias("ts_us"),
            "event_id",
            F.lag("event_type").over(w).alias("__prev"),
        )
        .filter(
            F.col("__prev").isNull() | (F.col("__prev") != F.col("state"))
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return runs.select(
        "user_id",
        "state",
        F.col("ts_us").alias("valid_from_us"),
        F.lead("ts_us").over(w2).alias("valid_to_us"),
        F.row_number().over(w2).cast("long").alias("version_seq"),
        F.lead("ts_us").over(w2).isNull().cast("long").alias("is_current"),
    )


def _dense_hourly(events: DataFrame, pin: bool) -> DataFrame:
    """The DENSE per-(event_type, hour) arrival series: (event_type,
    lo, h, c) for every hour h from the type's first observed hour lo
    to its last, c = events in that hour (silent hours count 0 —
    skipping them would fabricate correlation or slope). One (type,
    hour) hash aggregate over the corpus; the spine and its join act
    on at most types × hours rows. ``pin`` checkpoints the hourly
    aggregate, which feeds both the span and the series."""
    hours = events.groupBy(
        F.col("event_type"),
        (F.unix_micros(F.date_trunc("hour", F.col("ts")))
         / F.lit(3_600_000_000)).cast("long").alias("h"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    if pin:
        hours = materialize(hours)
    span = hours.groupBy("event_type").agg(
        F.min("h").alias("lo"), F.max("h").alias("hi")
    )
    spine = span.select(
        "event_type", "lo", F.explode(F.sequence("lo", "hi")).alias("h")
    )
    return spine.join(hours, ["event_type", "h"], "left").select(
        "event_type",
        "lo",
        "h",
        F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"),
    )


def cadence_autocorr(
    events: DataFrame, lags: tuple[int, ...] = (1, 2, 3, 6, 12, 24)
) -> DataFrame:
    """Arrival-cadence periodicity audit: per event type, the Pearson
    autocorrelation of the DENSE hourly arrival-count series at each
    candidate lag (hours). A spike at lag 24 is diurnal traffic, at
    lag 1 burst clustering — the evidence for trigger cadence and
    watermark tuning that the disorder/watermark advisors don't see
    (they measure lateness, not rhythm).

    The series is gap-filled per type (sequence over the observed
    hour range; silent hours count 0 — skipping them would fabricate
    correlation). Each (type, lag) pair's moments n, Σx, Σy, Σxy,
    Σx², Σy² accumulate as exact DECIMAL(38,0) (hourly counts square
    past int64 at planetary scale), and the correlation publishes as
    ONE fixed-shape double expression
      floor(1e6 · (n·Σxy − Σx·Σy) /
            (sqrt(n·Σx² − Σx·Σx) · sqrt(n·Σy² − Σy·Σy)))
    mirrored literally in the DuckDB oracle; constant series (zero
    variance) yield NULL rather than a 0/0.

    Distributed shape: one (type, hour) hash aggregate over the
    corpus; the spine, the lag self-join (equi-join on the integer
    hour index) and the moment rollup act on the DENSE SERIES — at
    most types × hours rows, metadata scale. Output:
    (event_type, lag_h, n_pairs, corr_ppm).
    """
    # deliberately NOT pinned: the replayed subtree is one cheap hash
    # aggregate + spine join, and both measured checkpoint variants
    # (hours alone, hours+dense) read +32-62% on this entry — the
    # barrier serializes what parallel replay recomputes for free here
    dense = _dense_hourly(events, pin=False)
    ks = F.array(*[F.lit(int(k)).cast("long") for k in lags])
    left = dense.select(
        "event_type",
        F.explode(ks).alias("lag_h"),
        (F.col("h") + F.col("lag_h")).alias("h2"),
        F.col("c").alias("x"),
    )
    right = dense.select(
        "event_type", F.col("h").alias("h2"), F.col("c").alias("y")
    )
    pairs = left.join(right, ["event_type", "h2"])
    mom = pairs.groupBy("event_type", "lag_h").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(
            F.col("x").cast("decimal(38,0)") * F.col("y")
        ).alias("sxy"),
        F.sum(
            F.col("x").cast("decimal(38,0)") * F.col("x")
        ).alias("sxx"),
        F.sum(
            F.col("y").cast("decimal(38,0)") * F.col("y")
        ).alias("syy"),
    )
    return mom.select(
        "event_type",
        "lag_h",
        "n_pairs",
        F.expr(
            "CASE WHEN n_pairs * sxx - sx * sx > 0"
            " AND n_pairs * syy - sy * sy > 0 THEN"
            " CAST(FLOOR(1000000.0"
            "  * CAST(n_pairs * sxy - sx * sy AS DOUBLE)"
            "  / (SQRT(CAST(n_pairs * sxx - sx * sx AS DOUBLE))"
            "     * SQRT(CAST(n_pairs * syy - sy * sy AS DOUBLE))))"
            " AS LONG) ELSE NULL END"
        ).alias("corr_ppm"),
    )


def hourly_trend(events: DataFrame) -> DataFrame:
    """Exact least-squares trend of the dense hourly arrival series
    per event type — the capacity-planning complement of
    cadence_autocorr (rhythm) and hourly_anomalies (outliers): is
    traffic GROWING, and how well does a line explain it?

    Same dense-series discipline as cadence_autocorr: the series is
    gap-filled over each type's observed hour range (silent hours
    count 0 — skipping them fabricates slope), x is the hour index
    from the type's first hour, y the hourly count. OLS moments
    n, Σx, Σy, Σxy, Σx², Σy² accumulate as exact DECIMAL(38,0);
    slope and fit publish as fixed-shape double expressions mirrored
    literally in the oracle:
      slope_mppm = floor(1e6 · (n·Σxy − Σx·Σy) / (n·Σx² − Σx·Σx))
      r2_ppm     = floor(1e6 · num² / (den_x · den_y))
    with den guards (a single-hour or constant series yields NULL).

    Distributed shape: ONE (type, hour) hash aggregate over the
    corpus; spine and moments act on the dense series — at most
    types × hours rows, metadata scale. Output:
    (event_type, n_hours, total_events, slope_mppm, r2_ppm).
    """
    dense = _dense_hourly(events, pin=True).select(
        "event_type",
        (F.col("h") - F.col("lo")).cast("long").alias("x"),
        F.col("c").alias("y"),
    )
    mom = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    return mom.select(
        "event_type",
        "n_hours",
        F.col("sy").cast("long").alias("total_events"),
        F.expr(
            "CASE WHEN n_hours * sxx - sx * sx > 0 THEN"
            " CAST(FLOOR(1000000.0"
            "  * CAST(n_hours * sxy - sx * sy AS DOUBLE)"
            "  / CAST(n_hours * sxx - sx * sx AS DOUBLE)) AS LONG)"
            " ELSE NULL END"
        ).alias("slope_mppm"),
        F.expr(
            "CASE WHEN n_hours * sxx - sx * sx > 0"
            " AND n_hours * syy - sy * sy > 0 THEN"
            " CAST(FLOOR(1000000.0"
            "  * CAST(n_hours * sxy - sx * sy AS DOUBLE)"
            "  * CAST(n_hours * sxy - sx * sy AS DOUBLE)"
            "  / (CAST(n_hours * sxx - sx * sx AS DOUBLE)"
            "     * CAST(n_hours * syy - sy * sy AS DOUBLE))) AS LONG)"
            " ELSE NULL END"
        ).alias("r2_ppm"),
    )


def changepoint_detect(events: DataFrame) -> DataFrame:
    """Single most likely level-shift (changepoint) in each type's
    hourly arrival series, by exact CUSUM: the hour index i
    maximizing |n·S_i − i·S_n| where S_i is the running count sum —
    the common-denominator form of |S_i − i·mean| that stays in
    integers (the source_vocab_tv no-division trick). The monitoring
    question behind it: "did this feed's rate step-change, and
    when?" — the pager-worthy complement of hourly_trend's gradual
    slope.

    Same dense-series discipline as hourly_trend / cadence_autocorr
    (silent hours count 0). The running sum is a per-type window
    over the DENSE series — at most types × hours rows, metadata
    scale (the user_activity_gini bound argument), never over raw
    events. Deviations accumulate as DECIMAL(38,0); the argmax is a
    (deviation desc, hour asc) rank — deterministic tie-break.
    Pre/post means publish as fixed-shape double exprs. Output:
    (event_type, n_hours, cp_idx, pre_mean_mppm, post_mean_mppm,
    shift_mppm) where cp_idx is the LAST hour of the pre segment
    (1-based), means are events/hour · 1e6.
    """
    from pyspark.sql.window import Window

    dense = _dense_hourly(events, pin=True).select(
        "event_type",
        (F.col("h") - F.col("lo") + 1).cast("long").alias("i"),
        F.col("c").alias("y"),
    )
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    cum = dense.select(
        "event_type",
        "i",
        F.sum(F.col("y").cast("decimal(38,0)")).over(w_run).alias("s_i"),
        F.sum(F.col("y").cast("decimal(38,0)")).over(w_all).alias("s_n"),
        F.max("i").over(w_all).alias("n_hours"),
    ).filter(F.col("i") < F.col("n_hours"))  # a split needs both sides
    dev = cum.select(
        "event_type",
        "i",
        "s_i",
        "s_n",
        "n_hours",
        F.abs(
            F.col("n_hours").cast("decimal(38,0)") * F.col("s_i")
            - F.col("i").cast("decimal(38,0)") * F.col("s_n")
        ).alias("dev"),
    )
    w_pick = Window.partitionBy("event_type").orderBy(
        F.desc("dev"), F.asc("i")
    )
    return (
        dev.withColumn("rk", F.row_number().over(w_pick))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("n_hours").cast("long").alias("n_hours"),
            F.col("i").cast("long").alias("cp_idx"),
            F.expr(
                "CAST(FLOOR(1000000.0 * CAST(s_i AS DOUBLE)"
                " / CAST(i AS DOUBLE)) AS LONG)"
            ).alias("pre_mean_mppm"),
            F.expr(
                "CAST(FLOOR(1000000.0 * CAST(s_n - s_i AS DOUBLE)"
                " / CAST(n_hours - i AS DOUBLE)) AS LONG)"
            ).alias("post_mean_mppm"),
            F.expr(
                "CAST(FLOOR(1000000.0 * (CAST(s_n - s_i AS DOUBLE)"
                " / CAST(n_hours - i AS DOUBLE)"
                " - CAST(s_i AS DOUBLE) / CAST(i AS DOUBLE))) AS LONG)"
            ).alias("shift_mppm"),
        )
    )


def user_activity_gini(events: DataFrame) -> DataFrame:
    """Exact Gini coefficient of the per-user event-count
    distribution — the single-number concentration audit behind
    "is our traffic (or training-data contribution) dominated by a
    few accounts?", complementing events_skew_audit's per-key view.

    Exactness AND scale come from the same trick: Gini over sorted
    counts needs Σ rank·x, but ranks over 10⁹ users would be a
    global sort — so fold ties first: group users by their COUNT
    VALUE c (the histogram (c, m_c) is bounded by max events/user,
    metadata-size), order that tiny relation, and use the closed
    form for a tied block's rank-sum:
      Σ rank·x = Σ_c c·(m_c·cum_before + m_c(m_c+1)/2)
    (cum_before = users in smaller-count blocks; the product is
    always even, so DIV 2 is exact). Then
      gini_ppm = floor(1e6·(2S − (n+1)T) / (n·T)),
    all moments exact DECIMAL(38,0) (S ~ n·T wraps int64 at
    planetary scale), identical in the DuckDB oracle.

    Shape: one corpus shuffle (user counts, map-side combined), one
    tiny histogram aggregate, one window over the HISTOGRAM rows.
    Output: one row (n_users, total_events, max_user_events,
    gini_ppm); 0 for perfectly uniform, → 1e6 as a single user
    dominates.
    """
    counts = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    hist = counts.groupBy("c").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    wh = Window.orderBy("c").rowsBetween(
        Window.unboundedPreceding, -1
    )  # histogram rows only — |distinct c| ≪ n_users
    blocks = hist.select(
        "c",
        "m",
        F.coalesce(F.sum("m").over(wh), F.lit(0)).alias("cum_before"),
    )
    mom = blocks.agg(
        F.sum("m").cast("long").alias("n_users"),
        F.sum(
            F.col("c").cast("decimal(38,0)") * F.col("m")
        ).alias("t_events"),
        F.max(F.col("c")).cast("long").alias("max_user_events"),
        F.sum(
            F.col("c").cast("decimal(38,0)")
            * (
                F.col("m").cast("decimal(38,0)") * F.col("cum_before")
                + F.expr(
                    "CAST(m AS DECIMAL(38,0)) * (m + 1) DIV 2"
                )
            )
        ).alias("s_rank"),
    )
    return mom.select(
        "n_users",
        F.col("t_events").cast("long").alias("total_events"),
        "max_user_events",
        F.expr(
            "CAST(((CAST(2 AS DECIMAL(38,0)) * s_rank * 1000000"
            " - (n_users + 1) * t_events * 1000000)"
            " DIV (CAST(n_users AS DECIMAL(38,0)) * t_events))"
            " AS LONG)"
        ).alias("gini_ppm"),
    )


def seasonal_naive_eval(orders: DataFrame) -> DataFrame:
    """Forecast-baseline backtest: score the seasonal-naive
    predictor (this month's revenue = the same month last year) over
    the whole order history. Every forecasting effort starts here —
    a model that can't beat seasonal-naive is a regression, and the
    per-month APE (absolute percentage error) table is the honest
    baseline scorecard.

    Exact integers: revenue in floor-cents, monthly rollup keyed by
    months-since-epoch (one hash aggregate on a ~tens-of-values key
    — AQE coalesces), predictions by a lag window over the BOUNDED
    month relation (|months| rows — metadata scale, the only window;
    never over orders). Months without a lag-LAG_MONTHS
    predecessor are excluded (no forecast exists). ape_ppm uses the
    actual as denominator, guarded for zero-revenue months. Output:
    (month_idx, year, month, rev_cents, pred_cents, abs_err_cents,
    ape_ppm), ordered.
    """
    from pyspark.sql.window import Window

    monthly = (
        ensure_parallelism(orders)
        .select(
            (
                (F.year(F.col("o_orderdate")) - 1970) * 12
                + F.month(F.col("o_orderdate"))
                - 1
            ).cast("long").alias("month_idx"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("__cents"),
        )
        .groupBy("month_idx")
        .agg(F.sum("__cents").cast("long").alias("rev_cents"))
    )
    w = Window.orderBy("month_idx")
    return (
        monthly.withColumn(
            "pred_cents", F.lag("rev_cents", LAG_MONTHS).over(w)
        )
        .withColumn(
            "__gap",
            F.col("month_idx")
            - F.lag("month_idx", LAG_MONTHS).over(w),
        )
        # the lag row must be EXACTLY LAG_MONTHS back on the calendar
        # (a sparse history would silently misalign the season)
        .filter(
            F.col("pred_cents").isNotNull()
            & (F.col("__gap") == LAG_MONTHS)
        )
        .select(
            "month_idx",
            (F.floor(F.col("month_idx") / 12) + 1970)
            .cast("long")
            .alias("year"),
            (F.col("month_idx") % 12 + 1).cast("long").alias("month"),
            "rev_cents",
            "pred_cents",
            F.abs(F.col("rev_cents") - F.col("pred_cents"))
            .cast("long")
            .alias("abs_err_cents"),
            F.expr(
                "(1000000 * abs(rev_cents - pred_cents))"
                " DIV greatest(rev_cents, 1)"
            ).alias("ape_ppm"),
        )
        .orderBy("month_idx")
    )


def gdpr_delete_simulation(
    events: DataFrame,
    forget_mod: int = 101,
    rows_per_file: int = 256,
) -> DataFrame:
    """Right-to-be-forgotten cost simulator: given a forget-set of
    users, what does a copy-on-write delete actually cost on the
    current file layout? Every file containing ANY forgotten row must
    be fully rewritten, so the real price is write amplification —
    innocent rows rewritten per deleted row — plus how widely the
    forget-set smears across files (ingest-ordered layouts smear it
    everywhere; user-clustered layouts contain it). The number an
    Iceberg operator needs before choosing copy-on-write vs
    merge-on-read position deletes.

    The forget-set is the deterministic user_id % forget_mod = 0
    sample; files are the ingest-order model (id DIV rows_per_file —
    the diag family's synthetic-file convention). One per-file hash
    aggregate, one global fold, all exact integers. Output (1 row):
    n_files, files_touched, touched_ppm, rows_total, rows_deleted,
    rows_rewritten, write_amplification_ppm (rewritten per deleted,
    ×1e6; 0 when nothing deletes).
    """
    per_file = (
        ensure_parallelism(events)
        .select(
            F.floor(F.col(EVENT_ID) / rows_per_file).alias("__file"),
            (F.col("user_id") % forget_mod == 0)
            .cast("long")
            .alias("__del"),
        )
        .groupBy("__file")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__rows"),
            F.sum("__del").cast("long").alias("__dels"),
        )
    )
    return per_file.agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum((F.col("__dels") > 0).cast("long"))
        .cast("long")
        .alias("files_touched"),
        F.sum("__rows").cast("long").alias("rows_total"),
        F.sum("__dels").cast("long").alias("rows_deleted"),
        F.sum(
            F.when(F.col("__dels") > 0, F.col("__rows") - F.col("__dels"))
            .otherwise(0)
        ).cast("long").alias("rows_rewritten"),
    ).select(
        "n_files",
        "files_touched",
        F.expr("(1000000 * files_touched) DIV n_files").alias(
            "touched_ppm"
        ),
        "rows_total",
        "rows_deleted",
        "rows_rewritten",
        F.expr(
            "(1000000 * rows_rewritten) DIV greatest(rows_deleted, 1)"
        ).alias("write_amplification_ppm"),
    )


def cdc_merge_apply(events: DataFrame) -> DataFrame:
    """MERGE-semantics change-feed apply: fold the event stream into
    the final per-user row state, the relational equivalent of
    `MERGE INTO state USING feed` run over the whole feed at once.
    The op column derives deterministically from event_type —
    signup=INSERT, error=DELETE, everything else=UPSERT — and the
    fold (by event_id order, the feed's commit order) is:
      - a DELETE tombstones the row: only I/U rows AFTER the last
        delete survive;
      - the latest surviving I/U supplies the value;
      - a user whose feed ends on a delete (or contains only
        deletes) is emitted with present=false and NULL state — the
        tombstone ledger a CDC compaction job must keep until
        downstream consumers acknowledge.
    Complements events_cdc_dedup (which de-duplicates the feed) and
    events_scd2_history (which keeps every version): this is the
    SNAPSHOT materialization a MERGE-based mirror maintains.

    One shuffle on user_id; the fold is two window passes over each
    user's bounded event history (max-if for the tombstone frontier,
    then conditional aggregates over the survivors) — no
    applyInPandas, no sort beyond the per-user window. At 100 TB the
    shuffle is the unavoidable key-grouping; everything after is
    row-local within a user partition.

    Output: (user_id, present, n_applied, last_event_id, last_value).
    """
    from pyspark.sql.window import Window

    op = (
        F.when(F.col("event_type") == "signup", F.lit("I"))
        .when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
    )
    w = Window.partitionBy("user_id")
    ev = events.select(
        "user_id", "event_id", "value", op.alias("op")
    ).withColumn(
        "last_d",
        F.max(F.when(F.col("op") == "D", F.col("event_id"))).over(w),
    )
    surv = F.col("op").isin("I", "U") & (
        F.col("event_id") > F.coalesce(F.col("last_d"), F.lit(-1))
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.sum(surv.cast("long")).alias("n_applied"),
            F.max(F.when(surv, F.col("event_id"))).alias("last_event_id"),
            F.max_by(
                F.when(surv, F.col("value")),
                F.when(surv, F.col("event_id")),
            ).alias("last_value"),
        )
        .select(
            "user_id",
            (F.col("n_applied") > 0).alias("present"),
            F.col("n_applied").cast("long").alias("n_applied"),
            "last_event_id",
            "last_value",
        )
    )


def ewma_anomalies(events: DataFrame) -> DataFrame:
    """Sequential EWMA spike detector over the hourly event-rate
    series, per event type: an hour is anomalous when its count more
    than 2 times the exponentially-weighted baseline of
    the PRECEDING hours (alpha=1/4), with a floor of 5 events so a
    2-vs-1 blip never fires. The adaptive-baseline complement of
    events_hourly_anomalies (whose static p90 threshold cannot track
    load growth) and events_changepoint (which finds ONE level
    shift; this flags every transient spike against a decaying
    memory).

    The recursion s_t = (3*s_{t-1} + 2^10*c_t) DIV 4 runs in
    2^10-scaled integer arithmetic — floor division, no floats — so
    the fold is bit-exact in any engine (the DuckDB oracle replays
    it as a recursive CTE). Baseline seeds at the first hour (which
    can therefore never flag).

    Scale shape: one corpus shuffle to the (type, hour) rollup; the
    fold is inherently sequential per type, so each type's BOUNDED
    hourly series (metadata scale: |hours|, not corpus rows)
    collapses to one sorted array and folds in a single JVM
    higher-order `aggregate` — the doc_repetition_profile idiom; no
    Python, no window over corpus rows.

    Output per anomalous hour: (event_type, window_start,
    event_count, ewma_prev_scaled, spike_ppm).
    """
    scale = 1 << 10
    hourly = events.groupBy(
        F.col("event_type"),
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00")
        .alias("ws"),
    ).agg(F.count(F.lit(1)).alias("c"))
    series = hourly.groupBy("event_type").agg(
        F.expr(
            "array_sort(collect_list(named_struct('ws', ws, 'c', c)))"
        ).alias("h")
    )
    out_t = (
        "array<struct<ws:string,c:bigint,sp:bigint,spike:bigint>>"
    )
    fold = f"""
    aggregate(
      h,
      named_struct('s', cast(-1 as bigint),
                   'out', cast(array() as {out_t})),
      (acc, x) -> named_struct(
        's', CASE WHEN acc.s < 0 THEN {scale} * x.c
                  ELSE (3 * acc.s + {scale} * x.c) DIV 4 END,
        'out', CASE
          WHEN acc.s >= 0 AND {scale} * x.c > 2 * acc.s
               AND x.c >= 5
          THEN array_append(acc.out, named_struct(
                 'ws', x.ws, 'c', cast(x.c as bigint),
                 'sp', acc.s,
                 'spike', ({scale} * 1000000 * x.c)
                          DIV greatest(acc.s, 1)))
          ELSE acc.out END),
      acc -> acc.out)
    """
    return series.select(
        "event_type", F.explode(F.expr(fold)).alias("a")
    ).select(
        "event_type",
        F.col("a.ws").alias("window_start"),
        F.col("a.c").alias("event_count"),
        F.col("a.sp").alias("ewma_prev_scaled"),
        F.col("a.spike").alias("spike_ppm"),
    )

EXPECTATION_RULES: tuple[tuple[str, str, str], ...] = (
    # (rule_id, severity, violation predicate as a SQL expression)
    ("value_range", "drop",
     "NOT (value IS NOT NULL AND value >= 0 AND value <= 250)"),
    ("props_k_range", "warn",
     "NOT coalesce(CAST(get_json_object(props, '$.k') AS BIGINT)"
     " BETWEEN 0 AND 89, false)"),
    ("known_event_type", "drop",
     "NOT coalesce(event_type IN"
     " ('click','view','purchase','signup','error'), false)"),
    ("ts_in_window", "drop",
     "NOT (ts IS NOT NULL AND ts >= TIMESTAMP '2024-01-01 00:00:00'"
     " AND ts < TIMESTAMP '2026-01-01 00:00:00')"),
    ("user_id_present", "drop", "user_id IS NULL"),
)


def expectations_audit(events: DataFrame) -> DataFrame:
    """Declarative data-contract audit (the expectations/constraints
    pattern of Delta Live Tables and Great Expectations): every rule
    in EXPECTATION_RULES is evaluated over the full feed in ONE scan
    and ONE global aggregate — a conditional sum plus a min-violator
    probe per rule, all computed map-side — then the single
    aggregated row unpivots via stack() to one output row per rule,
    plus a synthetic `_quarantine` row counting records that violate
    ANY drop-severity rule (the rows a contract-enforcing ingest
    would divert). No shuffle beyond the single-row global agg; at
    100 TB this is one pass over the feed regardless of rule count.

    Output per rule: (rule_id, severity, n_checked, n_violations,
    violation_ppm, first_bad_event_id) — first_bad_event_id is the
    minimum violating event_id (NULL when clean), the deterministic
    "show me one offender" handle.
    """
    aggs = []
    for rid, _sev, pred in EXPECTATION_RULES:
        v = F.expr(pred)
        aggs.append(F.sum(v.cast("long")).alias(f"nv_{rid}"))
        aggs.append(
            F.min(F.when(v, F.col("event_id"))).alias(f"fb_{rid}")
        )
    drop_preds = " OR ".join(
        f"({p})" for _r, s, p in EXPECTATION_RULES if s == "drop"
    )
    q = F.expr(drop_preds)
    aggs.append(F.sum(q.cast("long")).alias("nv__quarantine"))
    aggs.append(F.min(F.when(q, F.col("event_id"))).alias("fb__quarantine"))
    aggs.append(F.count(F.lit(1)).alias("n_checked"))
    row = events.agg(*aggs)

    stack_args = []
    for rid, sev, _p in EXPECTATION_RULES:
        stack_args.append(f"'{rid}', '{sev}', nv_{rid}, fb_{rid}")
    stack_args.append("'_quarantine', 'drop', nv__quarantine, fb__quarantine")
    n = len(stack_args)
    return row.select(
        F.expr(
            f"stack({n}, {', '.join(stack_args)})"
            " AS (rule_id, severity, n_violations, first_bad_event_id)"
        ),
        "n_checked",
    ).select(
        "rule_id",
        "severity",
        F.col("n_checked").cast("long").alias("n_checked"),
        F.col("n_violations").cast("long").alias("n_violations"),
        F.expr(
            "CAST(1000000 * n_violations DIV greatest(n_checked, 1)"
            " AS BIGINT)"
        ).alias("violation_ppm"),
        "first_bad_event_id",
    )


def shuffle_skew_advisor(
    events: DataFrame,
    n_partitions: int = 32,
) -> DataFrame:
    """Pre-flight shuffle-skew diagnosis for a planned groupBy/join
    on user_id: simulate hash partitioning into `n_partitions` reduce
    tasks with a portable hash (md5 of the key's decimal string —
    identical in any engine, unlike Murmur3 seeds) and report, per
    simulated partition, the row/key load and the salt factor that
    would level its heaviest key. Run this BEFORE the real shuffle:
    at 100 TB it costs one key-cardinality aggregate, and its output
    is the decision between plain hash partitioning, AQE skew-join,
    and explicit salting (functions/skew.salted_agg).

    Exact integer arithmetic throughout: fair_share =
    ceil(total/n_partitions); skew_ppm = 1e6 * partition_rows /
    fair_share; recommended_salt = ceil(max_key_rows / fair_share)
    (1 ⇒ no salting needed for that partition's heaviest key).

    Output: (partition_id, n_rows, n_keys, max_key_rows,
    skew_ppm, recommended_salt), one row per non-empty partition.
    """
    per_key = events.groupBy(F.col("user_id").alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    )
    part = F.expr(
        "CAST(conv(substring(md5(CAST(k AS STRING)), 1, 15), 16, 10)"
        f" AS BIGINT) % {n_partitions}"
    )
    by_part = per_key.groupBy(part.alias("partition_id")).agg(
        F.sum("c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("c").alias("max_key_rows"),
    )
    total = by_part.agg(F.sum("n_rows").alias("t"))
    return by_part.join(F.broadcast(total)).select(
        F.col("partition_id").cast("long").alias("partition_id"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_keys").cast("long").alias("n_keys"),
        F.col("max_key_rows").cast("long").alias("max_key_rows"),
        F.expr(
            f"CAST(1000000 * n_rows DIV (CAST(t + {n_partitions} - 1"
            f" AS BIGINT) DIV {n_partitions}) AS BIGINT)"
        ).alias("skew_ppm"),
        F.expr(
            f"CAST((max_key_rows + (CAST(t + {n_partitions} - 1"
            f" AS BIGINT) DIV {n_partitions}) - 1)"
            f" DIV (CAST(t + {n_partitions} - 1 AS BIGINT)"
            f" DIV {n_partitions}) AS BIGINT)"
        ).alias("recommended_salt"),
    )


MARKOV_CHANNELS: tuple[str, ...] = ("click", "error", "signup", "view")
MARKOV_ITERS = 24


def markov_attribution(events: DataFrame) -> DataFrame:
    """Markov removal-effect attribution — the data-driven
    alternative to last-touch: model each user's event-type journey
    as a first-order absorbing Markov chain (purchase = conversion,
    journey end = null), then credit each channel by how much the
    START→conversion probability DROPS when that channel is removed
    (its edges redirect to null). The standard multi-touch
    attribution model marketing pipelines run over clickstreams.

    Chain construction: journeys order by event_id per user and
    split at each purchase (the event after a conversion starts a
    new journey at START); a non-purchase final event closes its
    journey to END. Transition counts are ONE corpus pass (per-user
    lag window + hash aggregate); everything after lives on a 1-row
    pivot of the ≤(|channels|+1)·(|channels|+2) count matrix, so no
    driver collect and no bounded-collect aggregate at all.

    Conversion probabilities solve x = Px + c by MARKOV_ITERS fixed
    Jacobi iterations in ppm-scaled integer arithmetic (probability
    entries floor to ppm once; each iterate floors once) —
    deterministic and engine-identical; the truncation error after
    24 iterations is below 1 ppm for any substochastic P. Removal
    chains reuse the SAME floored matrix with the removed channel's
    incoming edges leaking to END (denominators unchanged — removal
    semantics, not renormalization).

    Output per channel: (channel, base_conv_ppm, removed_conv_ppm,
    removal_effect_ppm, attribution_ppm).
    """
    chans = MARKOV_CHANNELS
    states = ("START",) + chans  # transient states, index 0..4
    w = Window.partitionBy("user_id").orderBy("event_id")
    seq = events.select(
        "user_id",
        "event_id",
        F.col("event_type").alias("cur"),
        F.lag("event_type").over(w).alias("prev"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    src = (
        F.when(
            F.col("prev").isNull() | (F.col("prev") == "purchase"),
            F.lit("START"),
        ).otherwise(F.col("prev"))
    )
    dst = F.when(F.col("cur") == "purchase", F.lit("CONV")).otherwise(
        F.col("cur")
    )
    hops = seq.select(src.alias("src"), dst.alias("dst"))
    ends = seq.filter(
        (F.col("cur") != "purchase") & F.col("nxt").isNull()
    ).select(F.col("cur").alias("src"), F.lit("END").alias("dst"))
    edges = hops.unionAll(ends).groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("n")
    )

    # 1-row pivot: out-degree totals, then ppm transition columns
    aggs = []
    for i, s in enumerate(states):
        aggs.append(
            F.sum(F.when(F.col("src") == s, F.col("n"))).alias(f"t{i}")
        )
        for j, d in enumerate(states):
            if d == "START":
                continue
            aggs.append(
                F.sum(
                    F.when(
                        (F.col("src") == s) & (F.col("dst") == d),
                        F.col("n"),
                    )
                ).alias(f"n{i}_{j}")
            )
        aggs.append(
            F.sum(
                F.when(
                    (F.col("src") == s) & (F.col("dst") == "CONV"),
                    F.col("n"),
                )
            ).alias(f"nc{i}")
        )
    row = edges.agg(*aggs)
    p_cols = []
    for i in range(len(states)):
        for j in range(1, len(states)):
            p_cols.append(
                F.expr(
                    f"CAST(1000000 * coalesce(n{i}_{j}, 0)"
                    f" DIV greatest(coalesce(t{i}, 0), 1) AS BIGINT)"
                ).alias(f"p{i}_{j}")
            )
        p_cols.append(
            F.expr(
                f"CAST(1000000 * coalesce(nc{i}, 0)"
                f" DIV greatest(coalesce(t{i}, 0), 1) AS BIGINT)"
            ).alias(f"pc{i}")
        )
    probs = row.select(*p_cols)

    def conv_expr(removed: int | None) -> str:
        # Jacobi iteration via a higher-order fold over a dummy
        # sequence: acc is the 5-vector of ppm conversion probs
        terms = []
        for i in range(len(states)):
            parts = [f"1000000 * pc{i}"]
            for j in range(1, len(states)):
                if j == removed:
                    continue  # removed channel's mass leaks to END
                parts.append(f"p{i}_{j} * acc[{j}]")
            terms.append(f"({' + '.join(parts)}) DIV 1000000")
        vec = ", ".join(terms)
        return (
            f"aggregate(sequence(1, {MARKOV_ITERS}),"
            " array(0L, 0L, 0L, 0L, 0L),"
            f" (acc, k) -> array({vec}), acc -> acc[0])"
        )

    base = F.expr(conv_expr(None)).alias("base_conv_ppm")
    rem_cols = [
        F.expr(conv_expr(j + 1)).alias(f"rm{j}")
        for j in range(len(chans))
    ]
    solved = probs.select(base, *rem_cols)
    stack_args = ", ".join(
        f"'{c}', rm{j}" for j, c in enumerate(chans)
    )
    return (
        solved.select(
            "base_conv_ppm",
            F.expr(
                f"stack({len(chans)}, {stack_args})"
                " AS (channel, removed_conv_ppm)"
            ),
        )
        .withColumn(
            "removal_effect_ppm",
            F.greatest(
                F.col("base_conv_ppm") - F.col("removed_conv_ppm"),
                F.lit(0),
            ).cast("long"),
        )
        .withColumn(
            "total_effect",
            F.sum("removal_effect_ppm").over(Window.partitionBy()),
        )
        .select(
            "channel",
            F.col("base_conv_ppm").cast("long").alias("base_conv_ppm"),
            F.col("removed_conv_ppm").cast("long").alias("removed_conv_ppm"),
            "removal_effect_ppm",
            F.expr(
                "CAST(1000000 * removal_effect_ppm"
                " DIV greatest(total_effect, 1) AS BIGINT)"
            ).alias("attribution_ppm"),
        )
    )


SESSION_FUNNEL_STEPS: tuple[str, ...] = ("view", "click", "purchase")


def session_funnel(events: DataFrame) -> DataFrame:
    """Ordered conversion funnel WITHIN sessions — the per-visit
    variant of events_funnel (which scopes steps to the whole user
    history, so a view on Monday "converts" a purchase on Friday):
    a session reaches step k only if the steps occur IN ORDER inside
    that session (first view, then a click strictly after it, then a
    purchase strictly after that — ties broken by event_id, the
    sessionize ordering). The difference between the two funnels IS
    the session-scoping effect an analyst is usually asking about.

    One user_id shuffle shared by the gap-rule sessionization window
    and the per-session step windows; the staged mins are three
    window/conditional-min passes, all row-local within a (user,
    session) partition. Final rollup is one bounded aggregate.

    Output per step: (step_index, step, n_sessions,
    conversion_ppm) — conversion_ppm relative to ALL sessions.
    """
    s1, s2, s3 = SESSION_FUNNEL_STEPS
    is_start, _ = _session_start(SESSION_GAP_MINUTES)
    flagged = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("us"),
        is_start.alias("is_start"),
    )
    # the cumsum window re-orders by the materialized `us` column
    # (the lag window's `ts` no longer exists after the select)
    sess = flagged.withColumn(
        "session_seq",
        F.sum("is_start").over(
            Window.partitionBy("user_id")
            .orderBy("us", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # a per-session positional index collapses the (us, event_id)
    # order into ONE comparable scalar — min/comparisons on it are
    # engine-portable where struct mins are not
    rn = F.row_number().over(
        Window.partitionBy("user_id", "session_seq").orderBy(
            "us", "event_id"
        )
    )
    sess = sess.withColumn("rn", rn)
    ws = Window.partitionBy("user_id", "session_seq")
    t1 = F.min(F.when(F.col("event_type") == s1, F.col("rn"))).over(ws)
    staged = sess.withColumn("t1", t1).withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == s2) & (F.col("rn") > F.col("t1")),
                F.col("rn"),
            )
        ).over(ws),
    )
    per_sess = staged.groupBy("user_id", "session_seq").agg(
        F.max(F.col("t1").isNotNull()).alias("r1"),
        F.max(F.col("t2").isNotNull()).alias("r2"),
        F.max(
            (F.col("event_type") == s3) & (F.col("rn") > F.col("t2"))
        ).alias("r3"),
    )
    tot = per_sess.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.coalesce(F.sum(F.col("r1").cast("long")), F.lit(0)).alias("n1"),
        F.coalesce(F.sum(F.col("r2").cast("long")), F.lit(0)).alias("n2"),
        # r3 is NULL (not false) for a session whose only rows are
        # purchases with no prior staged click — skipped by sum, and
        # the coalesce covers the all-NULL degenerate corpus
        F.coalesce(F.sum(F.col("r3").cast("long")), F.lit(0)).alias("n3"),
    )
    steps = ", ".join(
        f"{i + 1}, '{s}', n{i + 1}"
        for i, s in enumerate(SESSION_FUNNEL_STEPS)
    )
    return tot.select(
        F.expr(
            f"stack(3, {steps}) AS (step_index, step, n_reached)"
        ),
        "n_sessions",
    ).select(
        F.col("step_index").cast("long").alias("step_index"),
        "step",
        F.col("n_reached").cast("long").alias("n_sessions"),
        F.expr(
            "CAST(1000000 * n_reached DIV greatest(n_sessions, 1)"
            " AS BIGINT)"
        ).alias("conversion_ppm"),
    )


def dau_mau(events: DataFrame) -> DataFrame:
    """DAU/MAU engagement table with EXACT rolling distinct users —
    the product-analytics stickiness metric, which resists plain
    window functions because COUNT(DISTINCT) over a sliding range is
    not decomposable. The exact distributed shape: dedup to the
    (user, active-day) relation, then each active day COVERS the
    next 30 days (explode of a bounded date sequence) and
    the rolling MAU is a plain distinct count per covered day —
    turning a sliding-distinct into two hash aggregates. Shuffle
    volume is |user-days| · 30 of 12-byte rows, linear and
    uniform; no user's history concentrates anywhere (compare the
    sketch alternative events_user_sketch_rollup, which trades
    exactness for one pass).

    Output per OBSERVED day: (day, dau, mau, stickiness_ppm) with
    mau = distinct users active in the trailing window ending that
    day and stickiness_ppm = 1e6·dau DIV mau.
    """
    ud = events.select(
        F.col("user_id"), F.col("ts").cast("date").alias("day")
    ).distinct()
    dau = ud.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    cover = ud.select(
        "user_id",
        F.explode(
            F.expr(
                "sequence(day, date_add(day, 29),"
                " interval 1 day)"
            )
        ).alias("day"),
    ).distinct()
    mau = cover.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("mau")
    )
    return dau.join(mau, "day").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "dau",
        "mau",
        F.expr(
            "CAST(1000000 * dau DIV greatest(mau, 1) AS BIGINT)"
        ).alias("stickiness_ppm"),
    )


# Error budget for a 99% availability SLO, in ppm of requests — the
# burn-rate denominators below are multiples of this budget.
SLO_BUDGET_PPM = 10_000


def sli_burn_rate(events: DataFrame) -> DataFrame:
    """Multi-window SLO burn-rate audit (the Google SRE workbook
    alerting pattern, adapted to hourly grain): treat 'error' events
    as SLI failures against a 99% success objective, compute the
    error rate over trailing 1 h / 6 h / 24 h windows, express each
    as a burn-rate multiple of the error budget (rate ÷ 1%), and
    flag paging conditions — fast burn (≥ 14.4× over 1 h: budget
    gone in ~2 days) and slow burn (≥ 6× over both 1 h and 6 h: the
    long window confirms, the short window proves it's still
    burning).

    Scale shape: ONE corpus shuffle to the hourly (n, errors)
    rollup; the trailing windows are RANGE frames over the
    hour-epoch ORDER on that rollup — a metadata-scale relation
    (|hours|, the ewma_anomalies bound), so the partition-less
    ordered window is bounded by construction, never corpus rows.
    All rates are integer ppm (floor); burn multiples in centi-x
    (100 = 1×) via exact integer DIV.

    Output per hour: (hour_epoch, window_start, n_events, n_errors,
    err_ppm_1h, err_ppm_6h, err_ppm_24h, burn_1h_centi,
    burn_6h_centi, page_fast, page_slow).
    """
    return sli_frames(hourly_sli_rollup(events))


def hourly_sli_rollup(events: DataFrame) -> DataFrame:
    """The (hour_epoch, window_start, n_events, n_errors) hourly SLI
    rollup — sli_burn_rate's corpus pass, shared with the streaming
    twin (which accumulates per-batch partial rollups and re-sums
    them; partial sums compose exactly)."""
    # Integer floor division end to end: the former
    # double true-division + cast truncated toward zero, disagreeing
    # with the oracle's floor // for pre-1970 (negative-epoch) hours;
    # date_trunc makes the micros an exact hour multiple, so `div`
    # keeps the epoch key integral and exact.
    return (
        events.groupBy(
            F.expr(
                "unix_micros(date_trunc('hour', ts)) div 3600000000"
            ).alias("hour_epoch"),
            # rendered alongside the epoch key (1:1) so no epoch →
            # timestamp round-trip ever meets the session time zone
            F.date_format(
                F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00:00"
            ).alias("window_start"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(
                F.when(F.col("event_type") == "error", 1).otherwise(0)
            )
            .cast("long")
            .alias("n_errors"),
        )
    )


def sli_frames(hourly: DataFrame) -> DataFrame:
    """Trailing 6h/24h RANGE frames + rates + paging flags over an
    hourly SLI rollup (see sli_burn_rate for semantics; the rollup
    relation is metadata-scale, so the ordered window is bounded by
    construction)."""
    w6 = (
        Window.orderBy("hour_epoch").rangeBetween(-5, 0)
    )
    w24 = (
        Window.orderBy("hour_epoch").rangeBetween(-23, 0)
    )
    framed = hourly.select(
        "hour_epoch",
        "window_start",
        "n_events",
        "n_errors",
        F.sum("n_events").over(w6).alias("n_6h"),
        F.sum("n_errors").over(w6).alias("e_6h"),
        F.sum("n_events").over(w24).alias("n_24h"),
        F.sum("n_errors").over(w24).alias("e_24h"),
    )
    # rates once, burn/page flags derived from the rate columns —
    # one copy of each rate definition to keep in step with the oracle
    rates = framed.select(
        "hour_epoch",
        "window_start",
        "n_events",
        "n_errors",
        F.expr("1000000 * n_errors DIV n_events").cast("long").alias(
            "err_ppm_1h"
        ),
        F.expr("1000000 * e_6h DIV n_6h").cast("long").alias("err_ppm_6h"),
        F.expr("1000000 * e_24h DIV n_24h").cast("long").alias(
            "err_ppm_24h"
        ),
    )
    return rates.select(
        "*",
        F.expr(f"(100 * err_ppm_1h) DIV {SLO_BUDGET_PPM}")
        .cast("long")
        .alias("burn_1h_centi"),
        F.expr(f"(100 * err_ppm_6h) DIV {SLO_BUDGET_PPM}")
        .cast("long")
        .alias("burn_6h_centi"),
        F.expr(
            f"err_ppm_1h >= {144 * SLO_BUDGET_PPM // 10}"
        ).alias("page_fast"),
        F.expr(
            f"err_ppm_6h >= {6 * SLO_BUDGET_PPM}"
            f" AND err_ppm_1h >= {6 * SLO_BUDGET_PPM}"
        ).alias("page_slow"),
    )


def holt_forecast(events: DataFrame) -> DataFrame:
    """Holt's linear (double-exponential) smoothing over the per-type
    hourly count series — the trend-aware upgrade of ewma_anomalies'
    level-only baseline and the model-quality complement of
    seasonal_naive_eval: one-step-ahead forecasts are scored as the
    fold runs (MAE over all predicted hours), and the final
    level+trend state yields the next-hour forecast.

        l_t = α·y_t + (1−α)(l_{t−1} + b_{t−1})      α = 1/4
        b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}      β = 1/4

    Integer exactness with SIGNED state: the trend (and transiently
    the level sum) can be negative, where Spark's truncating DIV and
    DuckDB's flooring // disagree — so every /4 is computed as
    (x − pmod(x, 4)) DIV 4 (subtract the non-negative remainder
    first; the division is then exact, and exact division is
    engine-independent). All state is 2^10-scaled.

    Scale shape: the ewma_anomalies contract — one corpus shuffle to
    the (type, hour) rollup, then each type's BOUNDED hourly series
    collapses to a sorted array and folds in one JVM higher-order
    aggregate; the oracle replays the identical recursion as a
    recursive CTE. Initialization: l seeds at the first hour,
    b at 0; forecasting starts at the second hour.

    Output per type: (event_type, n_hours, n_predicted, mae_milli,
    level_final_scaled, trend_final_scaled, forecast_next_scaled).
    """
    scale = 1 << 10
    hourly = events.groupBy(
        F.col("event_type"),
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00")
        .alias("ws"),
    ).agg(F.count(F.lit(1)).alias("c"))
    series = hourly.groupBy("event_type").agg(
        F.expr(
            "array_sort(collect_list(named_struct('ws', ws, 'c', c)))"
        ).alias("h")
    )

    def fdiv4(x: str) -> str:
        return f"(({x}) - pmod({x}, 4)) DIV 4"

    lsum = f"({scale} * x.c + 3 * (acc.l + acc.b))"
    lnew = fdiv4(lsum)
    bsum = f"(({lnew}) - acc.l + 3 * acc.b)"
    bnew = fdiv4(bsum)
    # explicit init flag: a "l < 0" sentinel would collide with a
    # legitimately negative level on steeply declining series and
    # silently reset the fold mid-stream (diverging from the oracle's
    # recursion, which has no sentinel)
    fold = f"""
    aggregate(
      h,
      named_struct('ok', false,
                   'l', cast(0 as bigint), 'b', cast(0 as bigint),
                   'n', cast(0 as bigint), 'sae', cast(0 as bigint)),
      (acc, x) -> CASE WHEN NOT acc.ok THEN
          named_struct('ok', true,
                       'l', {scale} * x.c, 'b', cast(0 as bigint),
                       'n', cast(0 as bigint), 'sae', cast(0 as bigint))
        ELSE named_struct(
          'ok', true,
          'l', {lnew},
          'b', {bnew},
          'n', acc.n + 1,
          'sae', acc.sae + abs({scale} * x.c - (acc.l + acc.b)))
        END,
      acc -> acc)
    """
    return series.select(
        "event_type",
        F.size("h").cast("long").alias("n_hours"),
        F.expr(fold).alias("st"),
    ).select(
        "event_type",
        "n_hours",
        F.col("st.n").cast("long").alias("n_predicted"),
        F.expr(
            f"CASE WHEN st.n = 0 THEN CAST(0 AS BIGINT)"
            f" ELSE CAST(1000 * st.sae DIV ({scale} * st.n) AS BIGINT) END"
        ).alias("mae_milli"),
        F.col("st.l").cast("long").alias("level_final_scaled"),
        F.col("st.b").cast("long").alias("trend_final_scaled"),
        (F.col("st.l") + F.col("st.b")).cast("long").alias(
            "forecast_next_scaled"
        ),
    )


def seasonality_profile(events: DataFrame) -> DataFrame:
    """Weekly seasonality profile per event type — the (day-of-week ×
    hour-of-day) seasonal-index table behind "is Tuesday 14:00
    normal?", the decomposition a capacity plan or an anomaly
    baseline reads before any model gets involved. For each of the
    168 weekly cells: the cell's mean hourly count as a ppm index of
    the type's overall mean (1e6 = flat), plus how many observed
    hours in the cell deviate from the cell mean by more than 2x up
    or down (the residual-outlier count, STL's remainder term reduced
    to a flag).

    Integer exactness: the index is
      floor(1e6 * cell_total * hours_overall
            / (cell_hours * total_overall))
    — one floor at the end, DECIMAL(38,0) numerators; day-of-week
    comes from pure epoch arithmetic ((hour_epoch DIV 24 + 4) % 7,
    epoch day 0 = Thursday → dow 0 = Sunday), never a session-timezone
    date function. Outlier tests are cross-multiplies
    (count*cell_hours > 2*cell_total and 2*count*cell_hours <
    cell_total).

    Scale: ONE corpus shuffle to the (type, hour_epoch) rollup;
    everything after is metadata-scale — a 168·|types| aggregate, a
    |types| aggregate broadcast back, and one uniform-key join of the
    hourly relation onto its cell stats for the outlier flags.
    Output per (event_type, dow, hod) cell with data:
    (event_type, dow, hod, cell_hours, cell_total, seasonal_ppm,
    n_outlier_hours).
    """
    return seasonality_from_hourly(hourly_type_rollup(events))


def hourly_type_rollup(events: DataFrame) -> DataFrame:
    """The (event_type, hour_epoch, n) hourly count rollup —
    seasonality_profile's corpus pass, shared with the streaming twin
    (per-batch partial rollups re-sum exactly)."""
    return events.groupBy(
        F.col("event_type"),
        F.expr(
            "unix_micros(date_trunc('hour', ts)) div 3600000000"
        ).alias("hour_epoch"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


def seasonality_from_hourly(rollup: DataFrame) -> DataFrame:
    """Weekly-cell profile over an (event_type, hour_epoch, n) hourly
    rollup (see seasonality_profile for semantics; the rollup is
    metadata-scale, so everything here is bounded)."""
    hourly = materialize(rollup.select(
        "event_type",
        "n",
        F.expr("(hour_epoch div 24 + 4) % 7").cast("long").alias("dow"),
        F.expr("hour_epoch % 24").cast("long").alias("hod"),
    ))  # cell stats + outlier consumers
    cells = hourly.groupBy("event_type", "dow", "hod").agg(
        F.count(F.lit(1)).cast("long").alias("cell_hours"),
        F.sum("n").cast("long").alias("cell_total"),
    )
    overall = hourly.groupBy("event_type").agg(
        F.sum(F.lit(1)).cast("long").alias("hours_overall"),
        F.sum("n").cast("long").alias("total_overall"),
    )
    outliers = (
        hourly.join(cells, ["event_type", "dow", "hod"])
        .select(
            "event_type",
            "dow",
            "hod",
            (
                (F.col("n") * F.col("cell_hours") > 2 * F.col("cell_total"))
                | (2 * F.col("n") * F.col("cell_hours") < F.col("cell_total"))
            )
            .cast("long")
            .alias("__out"),
        )
        .groupBy("event_type", "dow", "hod")
        .agg(F.sum("__out").cast("long").alias("n_outlier_hours"))
    )
    return (
        cells.join(F.broadcast(overall), "event_type")
        .join(outliers, ["event_type", "dow", "hod"])
        .select(
            "event_type",
            "dow",
            "hod",
            "cell_hours",
            "cell_total",
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * cell_total"
                " * hours_overall"
                " DIV (CAST(cell_hours AS DECIMAL(38,0)) * total_overall)"
                " AS BIGINT)"
            ).alias("seasonal_ppm"),
            "n_outlier_hours",
        )
    )
