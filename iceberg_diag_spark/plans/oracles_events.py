"""Events batch analytics + as-of/range time-series joins.

See plans/common.py for the cross-engine determinism rules every
oracle follows.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window
from iceberg_diag_spark.functions.parallel import materialize
from iceberg_diag_spark.operators import events, joins, sketches
from iceberg_diag_spark.plans.common import REGISTRY, QuerySpec, _t


# Events (batch analytics; streaming versions in streaming/)
# --------------------------------------------------------------------

def _events_hourly(spark, sf_dir):
    return events.hourly_rollup(_t(spark, sf_dir, "events"))


_EVENTS_HOURLY_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS event_count,
       CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users,
       CAST(sum(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY window_start, event_type
"""


def _events_sessionize(spark, sf_dir):
    return events.sessionize(_t(spark, sf_dir, "events")).select(
        "user_id",
        F.col("session_seq").cast("long").alias("session_seq"),
        "event_count",
        "session_start",
        "session_end",
    )


_EVENTS_SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
sess AS (
  SELECT user_id, ts,
         sum(is_start) OVER (PARTITION BY user_id
                             ORDER BY epoch_us(ts), event_id
                             ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       CAST(count(*) AS BIGINT) AS event_count,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
FROM sess
GROUP BY user_id, session_seq
"""


def _events_funnel(spark, sf_dir):
    """Ordered funnel: signup → first click AFTER the signup → first
    purchase AFTER that click, per user; output is one row per funnel
    stage with the user count that reached it. Three conditional-agg
    passes over the same user partitioning — each stage's timestamp
    gates the next, which a single pivot cannot express."""
    # each stage is pinned: t2's lineage contains t1's, t3's both,
    # and every stage is also counted
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t1 = materialize(
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = materialize(
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = materialize(
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    stages = [
        ("1_signup", t1),
        ("2_click_after_signup", t2),
        ("3_purchase_after_click", t3),
    ]
    out = None
    for name, df in stages:
        row = df.agg(F.count("*").cast("long").alias("users")).select(
            F.lit(name).alias("stage"), "users"
        )
        out = row if out is None else out.unionByName(row)
    return out


_EVENTS_FUNNEL_SQL = """
WITH t1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
t2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN t1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts >= t1.t1
  GROUP BY e.user_id
),
t3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN t2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= t2.t2
  GROUP BY e.user_id
)
SELECT '1_signup' AS stage, CAST(count(*) AS BIGINT) AS users FROM t1
UNION ALL
SELECT '2_click_after_signup', CAST(count(*) AS BIGINT) FROM t2
UNION ALL
SELECT '3_purchase_after_click', CAST(count(*) AS BIGINT) FROM t3
"""


def _events_quantiles(spark, sf_dir):
    return sketches.value_quantiles(_t(spark, sf_dir, "events"))


_EVENTS_QUANTILES_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS event_count,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events
GROUP BY event_type
"""


def _events_approx(spark, sf_dir):
    return sketches.approx_user_stats(_t(spark, sf_dir, "events"))


def _events_approx_checked(spark, sf_dir):
    return sketches.approx_stats_checked(_t(spark, sf_dir, "events"))


# The HLL estimate value is engine-private, but its error CONTRACT is
# checkable: the oracle asserts the bound holds (TRUE) and Spark's
# side computes whether its own sketch met it. The discrete-quantile
# columns hash directly (percentile_approx at full sketch accuracy ==
# DuckDB quantile_disc — both pick the value at rank ceil(p·n)).
_EVENTS_APPROX_CHECKED_SQL = """
SELECT event_type,
       round(quantile_disc(value, 0.5), 6) AS p50_approx,
       round(quantile_disc(value, 0.9), 6) AS p90_approx,
       TRUE AS hll_within_bound
FROM events
GROUP BY event_type
"""


def _events_sketch_rollup(spark, sf_dir):
    return sketches.hourly_user_sketch_rollup(_t(spark, sf_dir, "events"))


# The Datasketches HLL stays in exact (sparse) mode at the test
# cardinality (≤ ~150 users/day << 2^lgConfigK), so the union-rollup
# estimate equals the exact per-day distinct count and the oracle is
# plain COUNT(DISTINCT) — verified exact at sf0.001/0.01/0.1. At real
# cardinality it degrades gracefully to a bounded-error estimate and
# the rollup keeps its mergeable-state scale property.
_EVENTS_SKETCH_ROLLUP_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       CAST(count(DISTINCT date_part('hour', ts)) AS BIGINT) AS hours_covered,
       CAST(count(DISTINCT user_id) AS BIGINT) AS approx_distinct_users
FROM events
GROUP BY day
"""


def _events_hourly_anomalies(spark, sf_dir):
    """Anomalous hours: hourly event counts above the type's p90 —
    two-level aggregation (hourly rollup → per-type exact percentile)
    joined back as the flagging threshold. Percentile is exact/
    deterministic, so the whole query hash-matches the oracle."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias(
            "window_start"
        ),
        "event_type",
    ).agg(F.count("*").alias("event_count"))
    thresholds = hourly.groupBy("event_type").agg(
        F.round(F.expr("percentile(event_count, 0.9)"), 6).alias("p90")
    )
    return (
        hourly.join(F.broadcast(thresholds), "event_type")
        .filter(F.col("event_count") > F.col("p90"))
        .select("event_type", "window_start", "event_count", "p90")
    )


_EVENTS_ANOMALIES_SQL = """
WITH hourly AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS window_start,
         event_type,
         CAST(count(*) AS BIGINT) AS event_count
  FROM events
  GROUP BY window_start, event_type
),
thresholds AS (
  SELECT event_type, round(quantile_cont(event_count, 0.9), 6) AS p90
  FROM hourly GROUP BY event_type
)
SELECT h.event_type, h.window_start, h.event_count, t.p90
FROM hourly h JOIN thresholds t USING (event_type)
WHERE h.event_count > t.p90
"""


def _events_top_users(spark, sf_dir):
    return sketches.approx_top_users(_t(spark, sf_dir, "events"))


def _events_top_counts(spark, sf_dir):
    """The hash-checkable projection of the heavy-hitters sketch:
    (event_type, rank, est_count). WHICH user occupies a tied rank is
    engine-private, but the count MULTISET of the true top-k is
    invariant under any tie-break when the sketch is exact (test
    cardinality << maxItemsTracked), so re-ranking by est_count makes
    the (rank, count) pairs deterministic and oracle-equal."""
    top = sketches.approx_top_users(_t(spark, sf_dir, "events"))
    w = Window.partitionBy("event_type").orderBy(
        F.desc("est_count"), F.asc("user_id")
    )
    return top.select(
        "event_type",
        F.row_number().over(w).cast("long").alias("rank"),
        F.col("est_count"),
    )


_EVENTS_TOP_COUNTS_SQL = """
WITH c AS (
  SELECT event_type, user_id, count(*) AS n FROM events GROUP BY 1, 2
),
r AS (
  SELECT event_type, n,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY n DESC, user_id) AS rk
  FROM c
)
SELECT event_type, CAST(rk AS BIGINT) AS rank, CAST(n AS BIGINT) AS est_count
FROM r WHERE rk <= 5
"""


def _orders_decimal_totals(spark, sf_dir):
    """Exact decimal aggregation (SURVEY §1.2 'decimals — available
    free'): money as DECIMAL(18,2) — the cast to 2-decimal scale
    recovers the exact cent value from the stored double, and the
    decimal sum has no float drift. Output is emitted as integer
    CENTS (decimal * 100 → BIGINT): Spark decimal(38,2) and DuckDB
    DECIMAL(38,2) hold identical digits but serialize differently in
    the driver's hash canonicalization (an observed hash_match failure —
    values were digit-for-digit equal), so the contract column type
    is the representation-stable integer."""
    orders = _t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    return orders.groupBy("o_orderstatus").agg(
        F.sum(cents).alias("total_cents"),
        F.min(cents).alias("min_cents"),
        F.max(cents).alias("max_cents"),
        F.count("*").alias("order_count"),
    )


_ORDERS_DECIMAL_SQL = """
SELECT o_orderstatus,
       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(min(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS min_cents,
       CAST(max(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS max_cents,
       CAST(count(*) AS BIGINT) AS order_count
FROM orders
GROUP BY o_orderstatus
"""


def _events_json(spark, sf_dir):
    return events.json_props_rollup(_t(spark, sf_dir, "events"))


_EVENTS_JSON_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS event_count,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max
FROM events
GROUP BY event_type
"""


# --------------------------------------------------------------------
# Time-series joins (as-of / range) over events
# --------------------------------------------------------------------

def _dedup_clicks(ev):
    # one click per (user, ts): max event_id — removes tie ambiguity
    # so the as-of match is deterministic on both engines
    return (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_event_id"))
    )


def _asof_purchase_attribution(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = _dedup_clicks(ev)
    out = joins.asof_join(
        purchases,
        clicks,
        on="user_id",
        right_cols=("click_event_id",),
        how="inner",
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.floor(F.col("value") * 100).cast("long").alias("value_cents"),
        "click_event_id_right",
        F.date_format("ts_right", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.expr("(unix_micros(ts) - unix_micros(ts_right)) div 1000000").alias(
            "gap_seconds"
        ),
    ).withColumnRenamed("click_event_id_right", "click_event_id")


_ASOF_SQL = """
WITH p AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, ts, max(event_id) AS click_event_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
)
SELECT p.event_id,
       p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       CAST(FLOOR(p.value * 100) AS BIGINT) AS value_cents,
       c.click_event_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       CAST((epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS BIGINT) AS gap_seconds
FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def _range_clicks_before_purchase(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")
    return joins.range_join_before(
        purchases,
        clicks,
        on="user_id",
        before_seconds=1800,
        left_cols=("event_id",),
        right_cols=("event_id",),
    ).select(
        "user_id",
        F.col("l_event_id").alias("purchase_id"),
        F.col("r_event_id").alias("click_id"),
        "gap_seconds",
    )


_RANGE_SQL = """
SELECT p.user_id,
       p.event_id AS purchase_id,
       c.event_id AS click_id,
       CAST((epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS BIGINT) AS gap_seconds
FROM events p
JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND epoch_us(c.ts) >= epoch_us(p.ts) - 1800000000
 AND epoch_us(c.ts) <= epoch_us(p.ts)
"""


def _events_cdc_dedup(spark, sf_dir):
    from iceberg_diag_spark.operators.events import cdc_latest_rows

    return cdc_latest_rows(_t(spark, sf_dir, "events"))


_EVENTS_CDC_SQL = """
WITH ranked AS (
  SELECT user_id, event_type, event_id, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id, event_type) AS n
  FROM events
)
SELECT user_id, event_type,
       CAST(event_id AS BIGINT) AS last_event_id,
       CAST(FLOOR(value * 100) AS BIGINT) AS last_value_cents,
       CAST(n AS BIGINT) AS n_versions
FROM ranked WHERE rn = 1
"""


def _event_transitions(spark, sf_dir):
    return events.event_transitions(_t(spark, sf_dir, "events"))


_EVENT_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT user_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
         event_type AS dst
  FROM events
),
counts AS (
  SELECT src, dst,
         CAST(count(*) AS BIGINT) AS n_trans,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM seq WHERE src IS NOT NULL
  GROUP BY src, dst
)
SELECT src, dst, n_trans, n_users,
       CAST(floor(1000000.0 * n_trans / SUM(n_trans) OVER (PARTITION BY src))
            AS BIGINT) AS prob_ppm
FROM counts
"""


def _user_transition_typicality(spark, sf_dir):
    return events.user_transition_typicality(_t(spark, sf_dir, "events"))


_USER_TYPICALITY_SQL = """
WITH seq AS (
  SELECT user_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
         event_type AS dst
  FROM events
),
counts AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS n_trans
  FROM seq WHERE src IS NOT NULL
  GROUP BY src, dst
),
matrix AS (
  SELECT src, dst,
         CAST(floor(1000000.0 * n_trans / SUM(n_trans) OVER (PARTITION BY src))
              AS BIGINT) AS prob_ppm
  FROM counts
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_transitions,
       CAST(floor(avg(prob_ppm)) AS BIGINT) AS mean_prob_ppm,
       CAST(min(prob_ppm) AS BIGINT) AS min_prob_ppm
FROM seq JOIN matrix USING (src, dst)
WHERE src IS NOT NULL
GROUP BY user_id
"""


def _events_watermark_advisor(spark, sf_dir):
    return events.watermark_advisor(_t(spark, sf_dir, "events"))


_WATERMARK_ADVISOR_SQL = """
WITH o AS (
  SELECT event_type, epoch_us(ts) AS ts_us,
         max(epoch_us(ts)) OVER (
           ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS frontier
  FROM events
),
l AS (
  SELECT event_type,
         CASE WHEN frontier IS NULL OR frontier < ts_us THEN 0
              ELSE frontier - ts_us END AS lateness_us
  FROM o
),
g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CASE WHEN lateness_us > 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
         CAST(sum(CASE WHEN lateness_us > 10000000 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
         CAST(sum(CASE WHEN lateness_us > 60000000 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
         CAST(sum(CASE WHEN lateness_us > 600000000 THEN 1 ELSE 0 END) AS BIGINT) AS d4
  FROM l GROUP BY event_type
),
u AS (
  SELECT event_type, CAST(1000000 AS BIGINT) AS watermark_us, n_events, d1 AS n_dropped FROM g
  UNION ALL SELECT event_type, 10000000, n_events, d2 FROM g
  UNION ALL SELECT event_type, 60000000, n_events, d3 FROM g
  UNION ALL SELECT event_type, 600000000, n_events, d4 FROM g
)
SELECT event_type, watermark_us, n_events, n_dropped,
       CAST(floor(1000000.0 * n_dropped / n_events) AS BIGINT) AS drop_ppm
FROM u
"""


def _events_disorder_audit(spark, sf_dir):
    return events.disorder_audit(_t(spark, sf_dir, "events"))


_EVENTS_DISORDER_SQL = """
WITH o AS (
  SELECT event_type, epoch_us(ts) AS ts_us,
         max(epoch_us(ts)) OVER (
           ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS frontier
  FROM events
),
l AS (
  SELECT event_type,
         CASE WHEN frontier IS NULL OR frontier < ts_us THEN 0
              ELSE frontier - ts_us END AS lateness_us
  FROM o
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN lateness_us > 60000000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_late,
       CAST(max(lateness_us) AS BIGINT) AS max_lateness_us,
       CAST(sum(lateness_us) AS BIGINT) AS total_lateness_us
FROM l
GROUP BY event_type
"""


def _events_scd2(spark, sf_dir):
    return events.scd2_build(_t(spark, sf_dir, "events"))


_EVENTS_SCD2_SQL = """
WITH runs AS (
  SELECT user_id, event_type AS state, epoch_us(ts) AS ts_us, event_id,
         lag(event_type) OVER w AS prev
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
f AS (
  SELECT user_id, state, ts_us, event_id
  FROM runs WHERE prev IS NULL OR prev <> state
)
SELECT user_id, state,
       ts_us AS valid_from_us,
       lead(ts_us) OVER w2 AS valid_to_us,
       CAST(row_number() OVER w2 AS BIGINT) AS version_seq,
       CAST(lead(ts_us) OVER w2 IS NULL AS BIGINT) AS is_current
FROM f
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us, event_id)
"""


def _user_activity_gini(spark, sf_dir):
    return events.user_activity_gini(_t(spark, sf_dir, "events"))


_USER_GINI_SQL = """
WITH counts AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY user_id
),
hist AS (SELECT c, CAST(count(*) AS BIGINT) AS m FROM counts GROUP BY c),
blocks AS (
  SELECT c, m,
         COALESCE(sum(m) OVER (ORDER BY c
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS cum_before
  FROM hist
),
mom AS (
  SELECT CAST(sum(m) AS BIGINT) AS n_users,
         CAST(sum(CAST(c AS HUGEINT) * m) AS HUGEINT) AS t_events,
         CAST(max(c) AS BIGINT) AS max_user_events,
         CAST(sum(CAST(c AS HUGEINT)
                  * (CAST(m AS HUGEINT) * cum_before
                     + CAST(m AS HUGEINT) * (m + 1) // 2))
              AS HUGEINT) AS s_rank
  FROM blocks
)
SELECT n_users,
       CAST(t_events AS BIGINT) AS total_events,
       max_user_events,
       CAST((2 * s_rank * 1000000
             - (n_users + 1) * t_events * 1000000)
            // (CAST(n_users AS HUGEINT) * t_events) AS BIGINT)
         AS gini_ppm
FROM mom
"""


def _events_cadence_autocorr(spark, sf_dir):
    return events.cadence_autocorr(_t(spark, sf_dir, "events"))


_CADENCE_AUTOCORR_SQL = """
WITH hrs AS (
  SELECT event_type,
         epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
span AS (SELECT event_type, min(h) AS lo, max(h) AS hi FROM hrs GROUP BY 1),
spine AS (
  SELECT event_type, unnest(generate_series(lo, hi)) AS h FROM span
),
dense AS (
  SELECT s.event_type, s.h, COALESCE(hrs.c, 0) AS c
  FROM spine s
  LEFT JOIN hrs ON s.event_type = hrs.event_type AND s.h = hrs.h
),
ks AS (SELECT unnest([1, 2, 3, 6, 12, 24]) AS lag_h),
pairs AS (
  SELECT a.event_type, ks.lag_h, a.c AS x, b.c AS y
  FROM dense a CROSS JOIN ks
  JOIN dense b ON b.event_type = a.event_type AND b.h = a.h + ks.lag_h
),
mom AS (
  SELECT event_type, CAST(lag_h AS BIGINT) AS lag_h,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
  FROM pairs GROUP BY 1, 2
)
SELECT event_type, lag_h, n_pairs,
       CASE WHEN n_pairs * sxx - sx * sx > 0
             AND n_pairs * syy - sy * sy > 0 THEN
         CAST(FLOOR(1000000.0
            * CAST(n_pairs * sxy - sx * sy AS DOUBLE)
            / (SQRT(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
               * SQRT(CAST(n_pairs * syy - sy * sy AS DOUBLE))))
           AS BIGINT)
       ELSE NULL END AS corr_ppm
FROM mom
"""


def _events_hourly_trend(spark, sf_dir):
    return events.hourly_trend(_t(spark, sf_dir, "events"))


_HOURLY_TREND_SQL = """
WITH hrs AS (
  SELECT event_type,
         epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
span AS (SELECT event_type, min(h) AS lo, max(h) AS hi FROM hrs GROUP BY 1),
spine AS (
  SELECT event_type, lo, unnest(generate_series(lo, hi)) AS h FROM span
),
dense AS (
  SELECT s.event_type, s.h - s.lo AS x, COALESCE(hrs.c, 0) AS y
  FROM spine s
  LEFT JOIN hrs ON s.event_type = hrs.event_type AND s.h = hrs.h
),
mom AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_hours,
         CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
  FROM dense GROUP BY 1
)
SELECT event_type, n_hours, CAST(sy AS BIGINT) AS total_events,
       CASE WHEN n_hours * sxx - sx * sx > 0 THEN
         CAST(FLOOR(1000000.0
            * CAST(n_hours * sxy - sx * sy AS DOUBLE)
            / CAST(n_hours * sxx - sx * sx AS DOUBLE)) AS BIGINT)
       ELSE NULL END AS slope_mppm,
       CASE WHEN n_hours * sxx - sx * sx > 0
             AND n_hours * syy - sy * sy > 0 THEN
         CAST(FLOOR(1000000.0
            * CAST(n_hours * sxy - sx * sy AS DOUBLE)
            * CAST(n_hours * sxy - sx * sy AS DOUBLE)
            / (CAST(n_hours * sxx - sx * sx AS DOUBLE)
               * CAST(n_hours * syy - sy * sy AS DOUBLE))) AS BIGINT)
       ELSE NULL END AS r2_ppm
FROM mom
"""


def _events_changepoint(spark, sf_dir):
    return events.changepoint_detect(_t(spark, sf_dir, "events"))


_CHANGEPOINT_SQL = """
WITH hrs AS (
  SELECT event_type,
         epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
span AS (SELECT event_type, min(h) AS lo, max(h) AS hi FROM hrs GROUP BY 1),
spine AS (
  SELECT event_type, lo, unnest(generate_series(lo, hi)) AS h FROM span
),
dense AS (
  SELECT s.event_type, s.h - s.lo + 1 AS i, COALESCE(hrs.c, 0) AS y
  FROM spine s
  LEFT JOIN hrs ON s.event_type = hrs.event_type AND s.h = hrs.h
),
cum AS (
  SELECT event_type, i,
         sum(CAST(y AS HUGEINT)) OVER (PARTITION BY event_type
                                       ORDER BY i
                                       ROWS UNBOUNDED PRECEDING) AS s_i,
         sum(CAST(y AS HUGEINT)) OVER (PARTITION BY event_type) AS s_n,
         max(i) OVER (PARTITION BY event_type) AS n_hours
  FROM dense
),
dev AS (
  SELECT event_type, i, s_i, s_n, n_hours,
         abs(CAST(n_hours AS HUGEINT) * s_i
             - CAST(i AS HUGEINT) * s_n) AS dev
  FROM cum WHERE i < n_hours
),
pick AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY dev DESC, i ASC) AS rk
  FROM dev
)
SELECT event_type,
       CAST(n_hours AS BIGINT) AS n_hours,
       CAST(i AS BIGINT) AS cp_idx,
       CAST(FLOOR(1000000.0 * CAST(s_i AS DOUBLE) / CAST(i AS DOUBLE))
         AS BIGINT) AS pre_mean_mppm,
       CAST(FLOOR(1000000.0 * CAST(s_n - s_i AS DOUBLE)
            / CAST(n_hours - i AS DOUBLE)) AS BIGINT) AS post_mean_mppm,
       CAST(FLOOR(1000000.0 * (CAST(s_n - s_i AS DOUBLE)
            / CAST(n_hours - i AS DOUBLE)
            - CAST(s_i AS DOUBLE) / CAST(i AS DOUBLE))) AS BIGINT)
         AS shift_mppm
FROM pick WHERE rk = 1
"""


def _orders_seasonal_naive(spark, sf_dir):
    return events.seasonal_naive_eval(_t(spark, sf_dir, "orders"))


_SEASONAL_NAIVE_SQL = """
WITH monthly AS (
  SELECT (year(CAST(o_orderdate AS DATE)) - 1970) * 12
           + month(CAST(o_orderdate AS DATE)) - 1 AS month_idx,
         CAST(sum(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders GROUP BY month_idx
),
lagged AS (
  SELECT month_idx, rev_cents,
         lag(rev_cents, 12) OVER (ORDER BY month_idx) AS pred_cents,
         month_idx - lag(month_idx, 12) OVER (ORDER BY month_idx) AS gap
  FROM monthly
)
SELECT CAST(month_idx AS BIGINT) AS month_idx,
       CAST(month_idx // 12 + 1970 AS BIGINT) AS year,
       CAST(month_idx % 12 + 1 AS BIGINT) AS month,
       rev_cents,
       CAST(pred_cents AS BIGINT) AS pred_cents,
       CAST(abs(rev_cents - pred_cents) AS BIGINT) AS abs_err_cents,
       CAST((1000000 * abs(rev_cents - pred_cents))
            // greatest(rev_cents, 1) AS BIGINT) AS ape_ppm
FROM lagged
WHERE pred_cents IS NOT NULL AND gap = 12
ORDER BY month_idx
"""


def _gdpr_delete_simulation(spark, sf_dir):
    return events.gdpr_delete_simulation(_t(spark, sf_dir, "events"))

_GDPR_DELETE_SQL = """
WITH per_file AS (
  SELECT CAST(floor(event_id / 256) AS BIGINT) AS f,
         CAST(count(*) AS BIGINT) AS rows_,
         CAST(sum(CASE WHEN user_id % 101 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS dels
  FROM events GROUP BY f
)
SELECT CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(CASE WHEN dels > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS files_touched,
       CAST((1000000 * sum(CASE WHEN dels > 0 THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS touched_ppm,
       CAST(sum(rows_) AS BIGINT) AS rows_total,
       CAST(sum(dels) AS BIGINT) AS rows_deleted,
       CAST(sum(CASE WHEN dels > 0 THEN rows_ - dels ELSE 0 END)
            AS BIGINT) AS rows_rewritten,
       CAST((1000000 * sum(CASE WHEN dels > 0 THEN rows_ - dels
                                ELSE 0 END))
            // greatest(sum(dels), 1) AS BIGINT)
         AS write_amplification_ppm
FROM per_file
"""


# ------------------------------------------------------------------
# Watermark recommendation (batch pick + streaming twin)
# ------------------------------------------------------------------

def _late_tainted_events(ev):
    """The synthetic feed is perfectly ordered (every advisor drop
    count is 0), so the recommendation entries inject deterministic
    per-type disorder: every 20th click arrives 90 s late (only the
    widest candidates absorb it), every 20th error 30 s late (the
    60 s candidate suffices), every 20th view 700 s late (beyond
    even the largest candidate — the meets_target=false branch), and
    signup/purchase stay in order (smallest candidate wins). The
    oracle applies the identical CASE to epoch_us(ts)."""
    delay = (
        F.when(
            (F.col("event_type") == "click")
            & (F.col("event_id") % 20 == 0),
            90_000_000,
        )
        .when(
            (F.col("event_type") == "error")
            & (F.col("event_id") % 20 == 0),
            30_000_000,
        )
        .when(
            (F.col("event_type") == "view")
            & (F.col("event_id") % 20 == 0),
            700_000_000,
        )
        .otherwise(0)
    )
    return ev.withColumn(
        "ts", F.timestamp_micros(F.unix_micros(F.col("ts")) - delay)
    )


_LATE_TAINT_CASE = """
           CASE WHEN event_type = 'click' AND event_id % 20 = 0
                  THEN 90000000
                WHEN event_type = 'error' AND event_id % 20 = 0
                  THEN 30000000
                WHEN event_type = 'view' AND event_id % 20 = 0
                  THEN 700000000
                ELSE 0 END
"""


def _events_watermark_recommendation(spark, sf_dir):
    return events.watermark_recommendation(
        _late_tainted_events(_t(spark, sf_dir, "events")), target_ppm=1_000
    )


_WATERMARK_RECOMMENDATION_SQL = f"""
WITH o AS (
  SELECT event_type,
         epoch_us(ts) - {_LATE_TAINT_CASE} AS ts_us,
         max(epoch_us(ts) - {_LATE_TAINT_CASE}) OVER (
           ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS frontier
  FROM events
),
l AS (
  SELECT event_type,
         CASE WHEN frontier IS NULL OR frontier < ts_us THEN 0
              ELSE frontier - ts_us END AS lateness_us
  FROM o
),
g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CASE WHEN lateness_us > 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
         CAST(sum(CASE WHEN lateness_us > 10000000 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
         CAST(sum(CASE WHEN lateness_us > 60000000 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
         CAST(sum(CASE WHEN lateness_us > 600000000 THEN 1 ELSE 0 END) AS BIGINT) AS d4
  FROM l GROUP BY event_type
),
u AS (
  SELECT event_type, CAST(1000000 AS BIGINT) AS watermark_us, n_events, d1 AS n_dropped FROM g
  UNION ALL SELECT event_type, 10000000, n_events, d2 FROM g
  UNION ALL SELECT event_type, 60000000, n_events, d3 FROM g
  UNION ALL SELECT event_type, 600000000, n_events, d4 FROM g
),
adv AS (
  SELECT event_type, watermark_us, n_events, n_dropped,
         CAST(floor(1000000.0 * n_dropped / n_events) AS BIGINT) AS drop_ppm
  FROM u
),
ok AS (
  SELECT event_type, min(watermark_us) AS wm
  FROM adv WHERE drop_ppm <= 1000 GROUP BY event_type
),
fb AS (SELECT event_type, max(watermark_us) AS wm FROM adv GROUP BY event_type),
pick AS (
  SELECT f.event_type, coalesce(o2.wm, f.wm) AS wm,
         o2.wm IS NOT NULL AS meets_target
  FROM fb f LEFT JOIN ok o2 USING (event_type)
)
SELECT a.event_type, a.n_events,
       CAST(a.watermark_us AS BIGINT) AS recommended_watermark_us,
       a.n_dropped, a.drop_ppm, p.meets_target
FROM pick p
JOIN adv a ON a.event_type = p.event_type AND a.watermark_us = p.wm
"""


# ------------------------------------------------------------------
# MERGE-semantics CDC apply (change feed -> final snapshot)
# ------------------------------------------------------------------

def _events_cdc_merge(spark, sf_dir):
    return events.cdc_merge_apply(_t(spark, sf_dir, "events"))


_EVENTS_CDC_MERGE_SQL = """
WITH ev AS (
  SELECT user_id, event_id, value,
         CASE WHEN event_type = 'signup' THEN 'I'
              WHEN event_type = 'error' THEN 'D'
              ELSE 'U' END AS op
  FROM events
),
fr AS (
  SELECT user_id, event_id, value, op,
         max(CASE WHEN op = 'D' THEN event_id END)
           OVER (PARTITION BY user_id) AS last_d
  FROM ev
),
m AS (
  SELECT user_id, event_id, value,
         op IN ('I', 'U')
           AND event_id > coalesce(last_d, -1) AS surv
  FROM fr
)
SELECT user_id,
       sum(CASE WHEN surv THEN 1 ELSE 0 END) > 0 AS present,
       CAST(sum(CASE WHEN surv THEN 1 ELSE 0 END) AS BIGINT) AS n_applied,
       max(CASE WHEN surv THEN event_id END) AS last_event_id,
       max_by(CASE WHEN surv THEN value END,
              CASE WHEN surv THEN event_id END) AS last_value
FROM m GROUP BY user_id
"""


# ------------------------------------------------------------------
# Integer-exact EWMA spike detector on hourly event rates
# ------------------------------------------------------------------

def _events_ewma_anomalies(spark, sf_dir):
    return events.ewma_anomalies(_t(spark, sf_dir, "events"))


# The EWMA recursion s_t = (3*s_{t-1} + 1024*c_t) // 4 replays as a
# recursive CTE over each type's dense hour index — pure integer
# floor arithmetic, bit-identical to the Spark higher-order fold.
_EVENTS_EWMA_SQL = """
WITH RECURSIVE hourly AS (
  SELECT event_type,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS ws,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, ws
),
idx AS (
  SELECT event_type, ws, c,
         row_number() OVER (PARTITION BY event_type ORDER BY ws) AS i
  FROM hourly
),
f AS (
  SELECT event_type, i, ws, c,
         CAST(1024 * c AS BIGINT) AS s, CAST(NULL AS BIGINT) AS sp
  FROM idx WHERE i = 1
  UNION ALL
  SELECT h.event_type, h.i, h.ws, h.c,
         (3 * f.s + 1024 * h.c) // 4, f.s
  FROM f JOIN idx h ON h.event_type = f.event_type AND h.i = f.i + 1
)
SELECT event_type, ws AS window_start, c AS event_count,
       sp AS ewma_prev_scaled,
       CAST((1024 * 1000000 * c) // greatest(sp, 1) AS BIGINT)
         AS spike_ppm
FROM f
WHERE sp IS NOT NULL AND 1024 * c > 2 * sp AND c >= 5
"""


# ------------------------------------------------------------------
# Data-contract expectations audit + shuffle-skew advisor
# ------------------------------------------------------------------

def _events_expectations_audit(spark, sf_dir):
    return events.expectations_audit(_t(spark, sf_dir, "events"))


def _expectations_sql() -> str:
    """Mirror events.EXPECTATION_RULES verbatim (single source of
    truth); the only engine delta is Spark's get_json_object →
    DuckDB's json_extract_string (same signature, same result)."""
    agg_cols = ["CAST(count(*) AS BIGINT) AS n_checked"]
    selects = []
    for rid, sev, pred in events.EXPECTATION_RULES:
        dp = pred.replace("get_json_object", "json_extract_string")
        agg_cols.append(
            f"CAST(sum(CASE WHEN {dp} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS nv_{rid}"
        )
        agg_cols.append(
            f"min(CASE WHEN {dp} THEN event_id END) AS fb_{rid}"
        )
        selects.append(
            f"SELECT '{rid}' AS rule_id, '{sev}' AS severity,"
            f" n_checked, nv_{rid} AS n_violations,"
            f" CAST((1000000 * nv_{rid}) // greatest(n_checked, 1)"
            f" AS BIGINT) AS violation_ppm,"
            f" fb_{rid} AS first_bad_event_id FROM a"
        )
    drop_or = " OR ".join(
        f"({p.replace('get_json_object', 'json_extract_string')})"
        for _r, s, p in events.EXPECTATION_RULES
        if s == "drop"
    )
    agg_cols.append(
        f"CAST(sum(CASE WHEN {drop_or} THEN 1 ELSE 0 END) AS BIGINT)"
        " AS nv_q"
    )
    agg_cols.append(
        f"min(CASE WHEN {drop_or} THEN event_id END) AS fb_q"
    )
    selects.append(
        "SELECT '_quarantine' AS rule_id, 'drop' AS severity,"
        " n_checked, nv_q AS n_violations,"
        " CAST((1000000 * nv_q) // greatest(n_checked, 1) AS BIGINT)"
        " AS violation_ppm, fb_q AS first_bad_event_id FROM a"
    )
    return (
        "WITH a AS (SELECT "
        + ", ".join(agg_cols)
        + " FROM events) "
        + " UNION ALL ".join(selects)
    )


_EXPECTATIONS_SQL = _expectations_sql()


def _shuffle_skew_advisor(spark, sf_dir):
    return events.shuffle_skew_advisor(
        _t(spark, sf_dir, "events"), n_partitions=32
    )


# fair share = ceil(total/32); the md5-hex-prefix hash is engine-
# portable (Spark conv(hex,16,10) ≡ DuckDB CAST('0x'||hex AS BIGINT)
# for the 60-bit prefix, both non-negative).
_SHUFFLE_SKEW_SQL = """
WITH pk AS (
  SELECT user_id AS k, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY user_id
),
pp AS (
  SELECT
    CAST('0x' || substring(md5(CAST(k AS VARCHAR)), 1, 15) AS BIGINT)
      % 32 AS partition_id,
    c
  FROM pk
),
bp AS (
  SELECT partition_id,
         CAST(sum(c) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(max(c) AS BIGINT) AS max_key_rows
  FROM pp GROUP BY partition_id
),
t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total FROM bp)
SELECT partition_id, n_rows, n_keys, max_key_rows,
       CAST((1000000 * n_rows) // ((total + 31) // 32) AS BIGINT)
         AS skew_ppm,
       CAST((max_key_rows + (total + 31) // 32 - 1)
            // ((total + 31) // 32) AS BIGINT) AS recommended_salt
FROM bp, t
"""

# ------------------------------------------------------------------
# DAU/MAU with exact rolling distinct
# ------------------------------------------------------------------

def _events_dau_mau(spark, sf_dir):
    return events.dau_mau(_t(spark, sf_dir, "events"))


_DAU_MAU_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
dau AS (
  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day
),
cover AS (
  SELECT DISTINCT user_id, CAST(c.d AS DATE) AS day
  FROM ud, unnest(generate_series(CAST(ud.day AS TIMESTAMP),
                                  CAST(ud.day AS TIMESTAMP)
                                    + INTERVAL 29 DAY,
                                  INTERVAL 1 DAY)) c(d)
),
mau AS (
  SELECT day, CAST(count(*) AS BIGINT) AS mau FROM cover GROUP BY day
)
SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, mau.mau,
       CAST((1000000 * dau.dau) // greatest(mau.mau, 1) AS BIGINT)
         AS stickiness_ppm
FROM dau JOIN mau ON mau.day = dau.day
"""


# ------------------------------------------------------------------
# In-session ordered conversion funnel
# ------------------------------------------------------------------

def _session_funnel(spark, sf_dir):
    return events.session_funnel(_t(spark, sf_dir, "events"))


_SESSION_FUNNEL_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
sess AS (
  SELECT user_id, event_id, event_type, us,
         sum(is_start) OVER (PARTITION BY user_id
                             ORDER BY us, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
),
rn AS (
  SELECT user_id, session_seq, event_type,
         row_number() OVER (PARTITION BY user_id, session_seq
                            ORDER BY us, event_id) AS rn
  FROM sess
),
st AS (
  SELECT user_id, session_seq, event_type, rn,
         min(CASE WHEN event_type = 'view' THEN rn END)
           OVER (PARTITION BY user_id, session_seq) AS t1
  FROM rn
),
st2 AS (
  SELECT user_id, session_seq, event_type, rn, t1,
         min(CASE WHEN event_type = 'click' AND rn > t1 THEN rn END)
           OVER (PARTITION BY user_id, session_seq) AS t2
  FROM st
),
ps AS (
  SELECT user_id, session_seq,
         bool_or(t1 IS NOT NULL) AS r1,
         bool_or(t2 IS NOT NULL) AS r2,
         bool_or(event_type = 'purchase' AND rn > t2) AS r3
  FROM st2 GROUP BY 1, 2
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_sessions,
         CAST(sum(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN r2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN r3 THEN 1 ELSE 0 END) AS BIGINT) AS n3
  FROM ps
)
SELECT CAST(s.i AS BIGINT) AS step_index, s.step,
       CAST(s.n AS BIGINT) AS n_sessions,
       CAST((1000000 * s.n) // greatest(t.n_sessions, 1) AS BIGINT)
         AS conversion_ppm
FROM tot t, LATERAL (
  SELECT 1 AS i, 'view' AS step, t.n1 AS n
  UNION ALL SELECT 2, 'click', t.n2
  UNION ALL SELECT 3, 'purchase', t.n3
) s
"""


# ------------------------------------------------------------------
# Markov removal-effect attribution
# ------------------------------------------------------------------

def _markov_attribution(spark, sf_dir):
    return events.markov_attribution(_t(spark, sf_dir, "events"))


def _markov_sql() -> str:
    """Replay events.markov_attribution: journey edges → 1-row count
    pivot → ppm transition matrix → `iters` chained-CTE Jacobi steps
    for the base chain and each removal chain, floor-identical to
    the Spark higher-order fold."""
    chans = events.MARKOV_CHANNELS
    states = ("START",) + chans
    piv_cols, p_cols = [], []
    for i, s in enumerate(states):
        piv_cols.append(
            f"sum(CASE WHEN src = '{s}' THEN n END) AS t{i}"
        )
        for j, d in enumerate(states):
            if j == 0:
                continue
            piv_cols.append(
                f"sum(CASE WHEN src = '{s}' AND dst = '{d}' THEN n END)"
                f" AS n{i}_{j}"
            )
        piv_cols.append(
            f"sum(CASE WHEN src = '{s}' AND dst = 'CONV' THEN n END)"
            f" AS nc{i}"
        )
        for j in range(1, len(states)):
            p_cols.append(
                f"(1000000 * coalesce(n{i}_{j}, 0))"
                f" // greatest(coalesce(t{i}, 0), 1) AS p{i}_{j}"
            )
        p_cols.append(
            f"(1000000 * coalesce(nc{i}, 0))"
            f" // greatest(coalesce(t{i}, 0), 1) AS pc{i}"
        )
    n_states = len(states)
    pnames = [
        f"p{i}_{j}" for i in range(n_states) for j in range(1, n_states)
    ] + [f"pc{i}" for i in range(n_states)]
    ctes = [
        """seq AS (
  SELECT user_id, event_id, event_type AS cur,
         lag(event_type) OVER w AS prev,
         lead(event_type) OVER w AS nxt
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
)""",
        """hops AS (
  SELECT CASE WHEN prev IS NULL OR prev = 'purchase'
              THEN 'START' ELSE prev END AS src,
         CASE WHEN cur = 'purchase' THEN 'CONV' ELSE cur END AS dst
  FROM seq
  UNION ALL
  SELECT cur, 'END' FROM seq WHERE cur != 'purchase' AND nxt IS NULL
)""",
        "edges AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n"
        " FROM hops GROUP BY 1, 2)",
        "piv AS (SELECT " + ", ".join(piv_cols) + " FROM edges)",
        "p AS (SELECT " + ", ".join(p_cols) + " FROM piv)",
    ]
    # chain 0 = base; chain c (1-based channel index) = channel c
    # removed (its incoming mass leaks to END)
    zeros = ", ".join(
        f"CAST(0 AS BIGINT) AS c{ch}_{i}"
        for ch in range(len(chans) + 1)
        for i in range(n_states)
    )
    ctes.append(f"x0 AS (SELECT {zeros}, {', '.join(pnames)} FROM p)")
    for k in range(1, 25):
        cols = []
        for ch in range(len(chans) + 1):
            for i in range(n_states):
                parts = [f"1000000 * pc{i}"]
                for j in range(1, n_states):
                    if ch != 0 and j == ch:
                        continue
                    parts.append(f"p{i}_{j} * c{ch}_{j}")
                cols.append(
                    f"({' + '.join(parts)}) // 1000000 AS c{ch}_{i}"
                )
        ctes.append(
            f"x{k} AS (SELECT {', '.join(cols)},"
            f" {', '.join(pnames)} FROM x{k-1})"
        )
    effs = " + ".join(
        f"greatest(c0_0 - c{ch}_0, 0)" for ch in range(1, len(chans) + 1)
    )
    ctes.append(f"fin AS (SELECT *, {effs} AS tot FROM x24)")
    selects = []
    for ch, name in enumerate(chans, start=1):
        selects.append(
            f"SELECT '{name}' AS channel,"
            " CAST(c0_0 AS BIGINT) AS base_conv_ppm,"
            f" CAST(c{ch}_0 AS BIGINT) AS removed_conv_ppm,"
            f" CAST(greatest(c0_0 - c{ch}_0, 0) AS BIGINT)"
            " AS removal_effect_ppm,"
            f" CAST((1000000 * greatest(c0_0 - c{ch}_0, 0))"
            " // greatest(tot, 1) AS BIGINT) AS attribution_ppm"
            " FROM fin"
        )
    return (
        "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)
    )


_MARKOV_ATTRIBUTION_SQL = _markov_sql()


def _events_sli_burn_rate(spark, sf_dir):
    return events.sli_burn_rate(_t(spark, sf_dir, "events"))


_SLI_BURN_SQL = """
WITH hourly AS (
  SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS hour_epoch,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS window_start,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_errors
  FROM events GROUP BY 1, 2
),
framed AS (
  SELECT hour_epoch, window_start, n_events, n_errors,
         sum(n_events) OVER w6 AS n_6h, sum(n_errors) OVER w6 AS e_6h,
         sum(n_events) OVER w24 AS n_24h, sum(n_errors) OVER w24 AS e_24h
  FROM hourly
  WINDOW w6 AS (ORDER BY hour_epoch RANGE BETWEEN 5 PRECEDING AND CURRENT ROW),
         w24 AS (ORDER BY hour_epoch RANGE BETWEEN 23 PRECEDING AND CURRENT ROW)
)
SELECT hour_epoch, window_start, n_events, n_errors,
       CAST((1000000 * n_errors) // n_events AS BIGINT) AS err_ppm_1h,
       CAST((1000000 * e_6h) // n_6h AS BIGINT) AS err_ppm_6h,
       CAST((1000000 * e_24h) // n_24h AS BIGINT) AS err_ppm_24h,
       CAST((100 * ((1000000 * n_errors) // n_events)) // 10000 AS BIGINT)
         AS burn_1h_centi,
       CAST((100 * ((1000000 * e_6h) // n_6h)) // 10000 AS BIGINT)
         AS burn_6h_centi,
       ((1000000 * n_errors) // n_events) >= 144000 AS page_fast,
       (((1000000 * e_6h) // n_6h) >= 60000
        AND ((1000000 * n_errors) // n_events) >= 60000) AS page_slow
FROM framed
"""


def _events_holt_forecast(spark, sf_dir):
    return events.holt_forecast(_t(spark, sf_dir, "events"))


def _fdiv4_sql(x: str) -> str:
    """Floor /4 for signed ints, identical in both engines: subtract
    the non-negative remainder, then divide exactly."""
    return f"(({x}) - ((({x}) % 4 + 4) % 4)) // 4"


_HOLT_LSUM = "(1024 * h.c + 3 * (f.l + f.b))"
_HOLT_LNEW = _fdiv4_sql(_HOLT_LSUM)
_HOLT_BSUM = f"(({_HOLT_LNEW}) - f.l + 3 * f.b)"
_HOLT_BNEW = _fdiv4_sql(_HOLT_BSUM)

_HOLT_SQL = f"""
WITH RECURSIVE hourly AS (
  SELECT event_type,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS ws,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, ws
),
idx AS (
  SELECT event_type, ws, c,
         row_number() OVER (PARTITION BY event_type ORDER BY ws) AS i
  FROM hourly
),
tot AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours
  FROM idx GROUP BY event_type
),
f AS (
  SELECT event_type, i,
         CAST(1024 * c AS BIGINT) AS l, CAST(0 AS BIGINT) AS b,
         CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS sae
  FROM idx WHERE i = 1
  UNION ALL
  SELECT h.event_type, h.i,
         {_HOLT_LNEW},
         {_HOLT_BNEW},
         f.n + 1,
         f.sae + abs(1024 * h.c - (f.l + f.b))
  FROM f JOIN idx h ON h.event_type = f.event_type AND h.i = f.i + 1
)
SELECT f.event_type, t.n_hours, f.n AS n_predicted,
       CASE WHEN f.n = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST((1000 * f.sae) // (1024 * f.n) AS BIGINT) END
         AS mae_milli,
       f.l AS level_final_scaled,
       f.b AS trend_final_scaled,
       CAST(f.l + f.b AS BIGINT) AS forecast_next_scaled
FROM f JOIN tot t USING (event_type)
WHERE f.i = t.n_hours
"""


# ------------------------------------------------------------------
# Weekly seasonality profile
# ------------------------------------------------------------------


def _events_seasonality_profile(spark, sf_dir):
    return events.seasonality_profile(_t(spark, sf_dir, "events"))


_SEASONALITY_SQL = r"""
WITH hourly AS (
  SELECT event_type,
         CAST(epoch_us(date_trunc('hour', ts)) // 3600000000 AS BIGINT)
           AS hour_epoch,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
keyed AS (
  SELECT event_type, n,
         CAST((hour_epoch // 24 + 4) % 7 AS BIGINT) AS dow,
         CAST(hour_epoch % 24 AS BIGINT) AS hod
  FROM hourly
),
cells AS (
  SELECT event_type, dow, hod,
         CAST(count(*) AS BIGINT) AS cell_hours,
         CAST(sum(n) AS BIGINT) AS cell_total
  FROM keyed GROUP BY 1, 2, 3
),
overall AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS hours_overall,
         CAST(sum(n) AS BIGINT) AS total_overall
  FROM keyed GROUP BY 1
),
outliers AS (
  SELECT k.event_type, k.dow, k.hod,
         CAST(sum(CASE WHEN k.n * c.cell_hours > 2 * c.cell_total
                         OR 2 * k.n * c.cell_hours < c.cell_total
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_outlier_hours
  FROM keyed k
  JOIN cells c USING (event_type, dow, hod)
  GROUP BY 1, 2, 3
)
SELECT c.event_type, c.dow, c.hod, c.cell_hours, c.cell_total,
       CAST((CAST(1000000 AS HUGEINT) * c.cell_total * o.hours_overall)
            // (CAST(c.cell_hours AS HUGEINT) * o.total_overall)
         AS BIGINT) AS seasonal_ppm,
       u.n_outlier_hours
FROM cells c
JOIN overall o USING (event_type)
JOIN outliers u USING (event_type, dow, hod)
"""


REGISTRY.update({
    "events_hourly": QuerySpec(
        _events_hourly, _EVENTS_HOURLY_SQL, "tumbling 1h rollup"
    ),
    "events_sessionize": QuerySpec(
        _events_sessionize, _EVENTS_SESSIONIZE_SQL, "gap-based sessionization"
    ),
    "events_json_rollup": QuerySpec(
        _events_json, _EVENTS_JSON_SQL, "JSON dot-path extraction rollup"
    ),
    "orders_decimal_totals": QuerySpec(
        _orders_decimal_totals, _ORDERS_DECIMAL_SQL,
        "exact DECIMAL(18,2) money aggregation, digit-for-digit parity",
    ),
    "events_top_users_approx": QuerySpec(
        _events_top_users, None,
        "approx_top_k heavy-hitters sketch per event type "
        "(fixed-size state). Rows-only BY NECESSITY: counts are exact "
        "at test cardinality (multiset pinned vs exact top-k in "
        "tests), but the sketch's pick among boundary-TIED users is "
        "engine-private, so the identity set cannot hash-match — see "
        "events_top_counts_approx for the hash-checkable projection",
    ),
    "events_top_counts_approx": QuerySpec(
        _events_top_counts, _EVENTS_TOP_COUNTS_SQL,
        "tie-invariant (rank, count) projection of the heavy-hitters "
        "sketch — hash-checked against exact top-k",
    ),
    "events_funnel": QuerySpec(
        _events_funnel, _EVENTS_FUNNEL_SQL,
        "ordered conversion funnel (signup → click → purchase), "
        "stage-gated first-timestamps",
    ),
    "events_value_quantiles": QuerySpec(
        _events_quantiles, _EVENTS_QUANTILES_SQL,
        "exact distributed percentiles (== DuckDB quantile_cont)",
    ),
    "events_hourly_anomalies": QuerySpec(
        _events_hourly_anomalies, _EVENTS_ANOMALIES_SQL,
        "p90-threshold anomaly flagging over the hourly rollup "
        "(broadcast threshold join)",
    ),
    "events_approx_stats": QuerySpec(
        _events_approx, None,
        "HLL++ distinct + quantile-sketch percentiles (bounded error, "
        "fixed memory). Rows-only BY NECESSITY: the HLL++ estimate is "
        "engine-private (151 vs 150 exact at sf0.01); the percentile "
        "columns equal DuckDB quantile_disc and the distinct error "
        "bound is pinned in tests/test_sketches.py",
    ),
    "events_approx_stats_checked": QuerySpec(
        _events_approx_checked, _EVENTS_APPROX_CHECKED_SQL,
        "hash-checkable projection of the approx sketches: discrete "
        "quantiles (== DuckDB quantile_disc) plus the HLL estimate's "
        "3·rsd error-bound flag — the estimate VALUE is engine-"
        "private, its contract is not",
    ),
    "events_user_sketch_rollup": QuerySpec(
        _events_sketch_rollup, _EVENTS_SKETCH_ROLLUP_SQL,
        "mergeable HLL sketches: hourly sketch → daily union rollup "
        "(scan raw data once, re-aggregate at any granularity); exact "
        "at test cardinality → COUNT(DISTINCT) oracle",
    ),
    "asof_purchase_attribution": QuerySpec(
        _asof_purchase_attribution, _ASOF_SQL,
        "as-of join: latest preceding click per purchase "
        "(union+window single-shuffle formulation)",
    ),
    "range_clicks_before_purchase": QuerySpec(
        _range_clicks_before_purchase, _RANGE_SQL,
        "time-bucketed range join: clicks within 30 min before purchase",
    ),
    "events_cdc_dedup": QuerySpec(
        _events_cdc_dedup, _EVENTS_CDC_SQL,
        "CDC latest-row-wins compaction (merge-on-read upsert "
        "semantics): newest version per key with superseded-version "
        "count, one WindowGroupLimit pass",
    ),
    "user_transition_typicality": QuerySpec(
        _user_transition_typicality, _USER_TYPICALITY_SQL,
        "per-user behavioral typicality under the corpus Markov "
        "matrix: mean/min transition probability in exact ppm (the "
        "bot/scripted-traffic anomaly score — perplexity ordering "
        "without a logarithm)",
    ),
    "events_watermark_advisor": QuerySpec(
        _events_watermark_advisor, _WATERMARK_ADVISOR_SQL,
        "watermark policy table: exact withWatermark(delay) drop "
        "counts per (event_type, candidate delay) over the arrival-"
        "order lateness relation (shared distributed running-max "
        "core; one conditional-sum aggregate + metadata-size "
        "unpivot)",
    ),
    "events_disorder_audit": QuerySpec(
        _events_disorder_audit, _EVENTS_DISORDER_SQL,
        "watermark calibration: per-type arrival-order lateness vs "
        "the running event-time frontier, distributed running max "
        "via range shards + broadcast prefix maxes (no global window)",
    ),
    "event_transitions": QuerySpec(
        _event_transitions, _EVENT_TRANSITIONS_SQL,
        "first-order Markov event-type transition matrix with exact "
        "ppm conditional probabilities (one lag window + one pair "
        "aggregate)",
    ),
    "events_changepoint": QuerySpec(
        _events_changepoint, _CHANGEPOINT_SQL,
        "exact CUSUM changepoint per event type: hour maximizing "
        "|n·S_i − i·S_n| over the gap-filled dense series (integer "
        "common-denominator form, DECIMAL(38,0)); pre/post means and "
        "shift published as fixed-shape double exprs",
    ),
    "events_hourly_trend": QuerySpec(
        _events_hourly_trend, _HOURLY_TREND_SQL,
        "exact OLS trend of the dense hourly arrival series per "
        "event type (capacity planning): DECIMAL(38,0) moments, "
        "slope_mppm + r2_ppm published as fixed-shape double exprs; "
        "gap-filled spine at metadata scale",
    ),
    "events_scd2_history": QuerySpec(
        _events_scd2, _EVENTS_SCD2_SQL,
        "type-2 SCD history from the CDC event stream: consecutive-"
        "repeat collapse + half-open validity intervals, one shared "
        "per-user window partitioning (single shuffle)",
    ),
    "user_activity_gini": QuerySpec(
        _user_activity_gini, _USER_GINI_SQL,
        "exact Gini of the per-user event-count distribution "
        "(traffic/contribution concentration) via the tied-block "
        "closed form over the count HISTOGRAM - no global user "
        "sort, DECIMAL-exact moments",
    ),
    "events_cadence_autocorr": QuerySpec(
        _events_cadence_autocorr, _CADENCE_AUTOCORR_SQL,
        "per-type hourly-arrival Pearson autocorrelation at lags "
        "1/2/3/6/12/24h over the gap-filled dense series (diurnal "
        "rhythm / burst-clustering audit); exact DECIMAL moments, "
        "one fixed-shape correlation expression, NULL on zero "
        "variance",
    ),
    "orders_seasonal_naive_eval": QuerySpec(
        _orders_seasonal_naive, _SEASONAL_NAIVE_SQL,
        "seasonal-naive forecast backtest over monthly revenue "
        "(same-month-last-year predictor, exact floor-cents, "
        "calendar-alignment guard); the lag window runs over the "
        "bounded month relation only",
    ),
    "gdpr_delete_simulation": QuerySpec(
        _gdpr_delete_simulation, _GDPR_DELETE_SQL,
        "right-to-be-forgotten cost simulator: copy-on-write delete "
        "of a deterministic forget-set — files touched, rows "
        "rewritten, write amplification on the current layout; one "
        "per-file aggregate + one global fold",
    ),
    "events_watermark_recommendation": QuerySpec(
        _events_watermark_recommendation, _WATERMARK_RECOMMENDATION_SQL,
        "watermark advisor's decision: per type, the smallest "
        "candidate delay meeting the drop target (or the largest, "
        "flagged) over a deterministically disordered feed; sweep + "
        "struct-min pick, metadata-scale aggregate",
    ),
    "events_cdc_merge": QuerySpec(
        _events_cdc_merge, _EVENTS_CDC_MERGE_SQL,
        "MERGE-semantics change-feed apply: derive I/U/D ops, "
        "tombstone rows at the last delete, materialize the final "
        "per-user snapshot plus tombstone ledger; one user_id "
        "shuffle, two row-local window/agg passes",
    ),
    "events_ewma_anomalies": QuerySpec(
        _events_ewma_anomalies, _EVENTS_EWMA_SQL,
        "adaptive-baseline spike detector: per-type hourly counts "
        "folded through a 2^10-scaled integer EWMA (alpha=1/4), "
        "flagging hours that double the decayed baseline; one "
        "rollup shuffle, then a bounded per-type array fold",
    ),
    "events_dau_mau": QuerySpec(
        _events_dau_mau, _DAU_MAU_SQL,
        "DAU/MAU stickiness with EXACT rolling 30-day distinct "
        "users: sliding COUNT(DISTINCT) decomposed into user-day "
        "dedup + bounded coverage explode + plain distinct count — "
        "two hash aggregates, uniform 12-byte shuffle rows",
    ),
    "events_session_funnel": QuerySpec(
        _session_funnel, _SESSION_FUNNEL_SQL,
        "ordered conversion funnel scoped to 30-min sessions "
        "(view -> click strictly after -> purchase strictly after): "
        "one user_id shuffle shared by the gap windows, staged mins "
        "on a per-session positional index, bounded final rollup",
    ),
    "events_markov_attribution": QuerySpec(
        _markov_attribution, _MARKOV_ATTRIBUTION_SQL,
        "Markov removal-effect attribution: journeys -> absorbing "
        "chain (one lag-window corpus pass), conversion probability "
        "solved by 24 ppm-integer Jacobi steps on a 1-row matrix "
        "pivot, per-channel credit = conversion drop when the "
        "channel's edges leak to null",
    ),
    "events_expectations_audit": QuerySpec(
        _events_expectations_audit, _EXPECTATIONS_SQL,
        "declarative data-contract audit (DLT/Great-Expectations "
        "pattern): every rule a conditional sum + min-violator probe "
        "in ONE scan and ONE map-side global aggregate, unpivoted "
        "via stack() to a per-rule relation plus the any-drop-rule "
        "quarantine row; zero corpus shuffle",
    ),
    "shuffle_skew_advisor": QuerySpec(
        _shuffle_skew_advisor, _SHUFFLE_SKEW_SQL,
        "pre-flight shuffle-skew diagnosis: per-key counts hashed "
        "into 32 simulated reduce tasks with an engine-portable md5 "
        "hash; per-partition load, skew ppm vs fair share, and the "
        "salt factor that levels the heaviest key — the decision "
        "input for plain hash vs AQE skew-join vs explicit salting",
    ),
    "events_sli_burn_rate": QuerySpec(
        _events_sli_burn_rate, _SLI_BURN_SQL,
        "multi-window SLO burn-rate audit (SRE workbook pattern at "
        "hourly grain): one shuffle to the hourly rollup, trailing "
        "6h/24h RANGE frames on the metadata-scale hour relation, "
        "integer ppm rates + centi-x burn multiples + fast/slow "
        "paging flags against a 99% objective",
    ),
    "events_holt_forecast": QuerySpec(
        _events_holt_forecast, _HOLT_SQL,
        "Holt linear double-exponential smoothing per event type "
        "(alpha=beta=1/4, 2^10-scaled signed integer state, floor-/4 "
        "via remainder subtraction so both engines agree on "
        "negatives): one rollup shuffle + bounded per-type array "
        "fold, one-step-ahead MAE scored in-fold, next-hour forecast "
        "from the final level+trend",
    ),
    "events_seasonality_profile": QuerySpec(
        _events_seasonality_profile, _SEASONALITY_SQL,
        "weekly (dow x hod) seasonal-index table per event type with "
        "residual-outlier counts (STL-lite): one corpus shuffle to "
        "the hourly rollup, then metadata-scale 168-cell aggregates, "
        "a broadcast per-type overall, and one uniform-key join for "
        "the 2x-deviation outlier flags; pure epoch arithmetic for "
        "dow/hod (no session-timezone date functions), one floor at "
        "the end in DECIMAL",
    ),
})
