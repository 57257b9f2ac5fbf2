"""Relational suite: TPC-H shapes, joins, windows, extended relational forms over the star schema.

See plans/common.py for the cross-engine determinism rules every
oracle follows.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window
from iceberg_diag_spark.operators import privacy, profiling
from iceberg_diag_spark.plans.common import REGISTRY, QuerySpec, _t


# --------------------------------------------------------------------
# Relational suite (joins / aggregation / windows over the star schema)
# --------------------------------------------------------------------

_CUTOFF = "1998-03-15 00:00:00"


def _rev_cents():
    return F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")


def _q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    charge = F.floor(
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
        * 100
    ).cast("long")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.floor(F.col("l_quantity") * 100).cast("long")).alias(
                "sum_qty_cents"
            ),
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias(
                "sum_base_cents"
            ),
            F.sum(_rev_cents()).alias("sum_disc_cents"),
            F.sum(charge).alias("sum_charge_cents"),
            F.count("*").alias("count_order"),
        )
    )


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(FLOOR(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
       CAST(sum(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
       CAST(sum(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
       CAST(sum(CAST(FLOOR(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def _q3(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(_CUTOFF).cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(_CUTOFF).cast("timestamp")
    )
    # customer is the small side → broadcast; lineitem↔orders shuffle
    # on the join key. Catalyst/AQE would choose this anyway at these
    # sizes; the hint pins it for the 100 TB case.
    joined = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    return (
        joined.groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .agg(F.sum(_rev_cents()).alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), F.asc("l_orderkey"))
        .limit(10)
    )


_Q3_SQL = f"""
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       o_orderpriority,
       CAST(sum(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '{_CUTOFF}'
  AND l_shipdate > TIMESTAMP '{_CUTOFF}'
GROUP BY l_orderkey, order_date, o_orderpriority
ORDER BY revenue_cents DESC, l_orderkey
LIMIT 10
"""


def _q5(spark, sf_dir):
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    # Fact-to-fact (lineitem↔orders) shuffles on orderkey; every
    # dimension is broadcast so no additional shuffles occur.
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        F.sum(_rev_cents()).alias("revenue_cents")
    )


_Q5_SQL = """
SELECT n_name,
       CAST(sum(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


def _top_orders_per_customer(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


_TOP_ORDERS_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
WHERE rn <= 3
"""


def _orders_monthly(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
            "o_orderstatus",
        )
        .agg(
            F.count("*").alias("order_count"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
                "total_cents"
            ),
        )
    )


_ORDERS_MONTHLY_SQL = """
SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
       o_orderstatus,
       CAST(count(*) AS BIGINT) AS order_count,
       CAST(sum(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders
GROUP BY order_month, o_orderstatus
"""


def _revenue_daily_gapfill(spark, sf_dir):
    """Date-spine gap fill + running total: complete daily series via
    sequence(min,max) even for days with no orders, then a cumulative
    window. The spine is post-aggregation scale (one row per DAY —
    thousands of rows at any data size), so the unpartitioned
    cumulative window is not a scale hazard."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count("*").alias("order_count"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
            "revenue_cents"
        ),
    )
    spine = (
        orders.agg(
            F.min(F.to_date("o_orderdate")).alias("lo"),
            F.max(F.to_date("o_orderdate")).alias("hi"),
        )
        .select(F.explode(F.sequence("lo", "hi")).alias("day"))
    )
    filled = spine.join(daily, "day", "left").select(
        "day",
        F.coalesce("order_count", F.lit(0)).alias("order_count"),
        F.coalesce("revenue_cents", F.lit(0)).alias("revenue_cents"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return filled.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "order_count",
        "revenue_cents",
        F.sum("revenue_cents").over(w).alias("cum_revenue_cents"),
    )


_GAPFILL_SQL = """
WITH b AS (
  SELECT min(CAST(o_orderdate AS DATE)) AS lo,
         max(CAST(o_orderdate AS DATE)) AS hi
  FROM orders
),
spine AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
  FROM b
),
daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS order_count,
         CAST(sum(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
  FROM orders GROUP BY day
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       coalesce(order_count, 0) AS order_count,
       coalesce(revenue_cents, 0) AS revenue_cents,
       CAST(sum(coalesce(revenue_cents, 0))
            OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_revenue_cents
FROM spine LEFT JOIN daily USING (day)
"""


def _q4_semi(spark, sf_dir):
    """Semi-join shape (TPC-H Q4 adapted): orders in 1996H1 having at
    least one high-discount lineitem, counted by priority. Left-semi
    keeps the probe side unduplicated — no post-join distinct."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_discount") >= 0.08)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


_Q4_SEMI_SQL = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_discount >= 0.08)
GROUP BY o_orderpriority
"""


def _q13_distribution(spark, sf_dir):
    """Left-outer + two-level aggregation (TPC-H Q13 shape): order
    count per customer (F-status orders), then the distribution of
    those counts. Customers without orders land in bucket 0 via the
    outer join."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").alias("custdist")
    )


_Q13_SQL = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderstatus = 'F'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def _anti_inactive_customers(spark, sf_dir):
    """Anti-join shape (TPC-H Q22 flavor): customers with no pending
    ('P'-status) orders, counted per market segment with their
    balance mass. (Every customer in the testdata has SOME order, so
    the filter keeps the anti join non-trivial.)"""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("customer_count"),
            F.sum(F.floor(F.col("c_acctbal") * 100).cast("long")).alias(
                "acctbal_cents"
            ),
        )
    )


_ANTI_SQL = """
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS customer_count,
       CAST(sum(CAST(FLOOR(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
GROUP BY c_mktsegment
"""


def _q18_heavy_orders(spark, sf_dir):
    """Aggregate-then-join + HAVING (TPC-H Q18 shape): orders whose
    total quantity exceeds 150, joined back for customer context.
    The heavy groupBy runs BEFORE the join, so the join probe side is
    already reduced to qualifying orders only."""
    li = _t(spark, sf_dir, "lineitem")
    heavy = (
        li.groupBy("l_orderkey")
        .agg(F.floor(F.sum("l_quantity")).cast("long").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        heavy.join(orders, heavy.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias(
                "totalprice_cents"
            ),
            "total_qty",
        )
    )


_Q18_SQL = """
SELECT c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
       total_qty
FROM (
  SELECT l_orderkey, CAST(FLOOR(sum(l_quantity)) AS BIGINT) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING total_qty > 150
)
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def _orders_rollup(spark, sf_dir):
    """ROLLUP grouping-sets: order counts/value at (status, priority),
    (status), and grand-total levels in ONE pass — the fused
    multi-granularity aggregation the reference computes with two
    manual passes (SURVEY §2 A1+A2)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("order_count"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
                "total_cents"
            ),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "order_count",
            "total_cents",
        )
    )


_ROLLUP_SQL = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       CAST(count(*) AS BIGINT) AS order_count,
       CAST(sum(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def _orders_cube(spark, sf_dir):
    """CUBE grouping-sets: all four granularities — (status,
    priority), (status), (priority), () — in one pass; the superset
    of ROLLUP's hierarchy for cross-dimensional dashboards."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("order_count"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
                "total_cents"
            ),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "order_count",
            "total_cents",
        )
    )


_CUBE_SQL = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       CAST(count(*) AS BIGINT) AS order_count,
       CAST(sum(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# --------------------------------------------------------------------
# Extended relational shapes: multi-join chains, CASE aggregation,
# LIKE-category filters, scalar/correlated subqueries, NOT EXISTS,
# window frames (TPC-H Q7/Q10/Q12/Q14/Q17/Q22 adapted to the
# driver's column subset; nation names are NATION_<k>)
# --------------------------------------------------------------------

def _q7_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape: bilateral trade volume between two nations by
    ship year. Five-way join; all three dims (supplier, customer,
    nation) broadcast; the only data-bearing shuffle is
    lineitem↔orders on the order key, then one small agg."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(F.col("s_suppkey"), F.col("n_name").alias("supp_nation"))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("c_custkey"), F.col("n_name").alias("cust_nation"))
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.sum(_rev_cents()).alias("revenue_cents"))
    )


_Q7_SQL = """
SELECT sn.n_name AS supp_nation,
       cn.n_name AS cust_nation,
       CAST(date_part('year', l_shipdate) AS INTEGER) AS l_year,
       CAST(sum(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
GROUP BY supp_nation, cust_nation, l_year
"""


def _q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: revenue lost to returned items per customer in
    one quarter, top 20. Aggregate-then-rank; the limit is made
    deterministic with a custkey tie-break."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("cust_nation"),
            F.floor(F.col("c_acctbal") * 100).cast("long").alias("acctbal_cents"),
        )
        .agg(F.sum(_rev_cents()).alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), F.asc("c_custkey"))
        .limit(20)
    )


_Q10_SQL = """
SELECT c_custkey, c_name, n_name AS cust_nation,
       CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
       CAST(sum(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, cust_nation, acctbal_cents
ORDER BY revenue_cents DESC, c_custkey
LIMIT 20
"""


def _q12_ship_delay(spark, sf_dir):
    """TPC-H Q12 shape (adapted: no l_shipmode/receiptdate in the
    driver schema): lineitems bucketed by ship delay vs order date,
    CASE-aggregating high- vs low-priority order counts per bucket."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    delay = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    bucket = (
        F.when(delay >= 90, "late")
        .when(delay >= 30, "medium")
        .otherwise("fast")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_priority_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_priority_count"),
        )
    )


_Q12_SQL = """
SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) >= 90 THEN 'late'
            WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) >= 30 THEN 'medium'
            ELSE 'fast' END AS delay_bucket,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS high_priority_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT)
         AS low_priority_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY delay_bucket
"""


def _q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: share of one month's revenue from PROMO-type
    parts. LIKE-category filter on a broadcast dim + conditional sum
    ratio; cents keep the sums exact, the final ratio is a
    deterministic double division."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    joined = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    promo = F.col("p_type").like("PROMO%")
    agg = joined.agg(
        F.sum(F.when(promo, _rev_cents()).otherwise(F.lit(0).cast("long"))).alias(
            "promo_cents"
        ),
        F.sum(_rev_cents()).alias("total_cents"),
    )
    return agg.select(
        "promo_cents",
        "total_cents",
        F.round(
            F.lit(100.0) * F.col("promo_cents") / F.col("total_cents"), 6
        ).alias("promo_pct"),
    )


_Q14_SQL = """
WITH a AS (
  SELECT CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                  THEN CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS promo_cents,
         CAST(sum(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
           AS total_cents
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-09-01'
    AND l_shipdate < TIMESTAMP '1996-10-01'
)
SELECT promo_cents, total_cents,
       round(100.0 * promo_cents / total_cents, 6) AS promo_pct
FROM a
"""


def _q17_small_quantity(spark, sf_dir):
    """TPC-H Q17 shape: revenue from small-quantity orders of one
    brand's parts. The correlated scalar subquery (per-part average
    quantity) decorrelates to an aggregate + join — the same plan
    Catalyst derives from the subquery form."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23").select(
        "p_partkey"
    )
    avg_qty = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(avg_qty, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.count("*").alias("small_lineitems"),
            (
                F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long"))
                / F.lit(7)
            ).cast("long").alias("avg_yearly_cents"),
        )
    )


_Q17_SQL = """
WITH t AS (
  SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_threshold
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(count(*) AS BIGINT) AS small_lineitems,
       CAST(FLOOR(sum(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) / 7) AS BIGINT)
         AS avg_yearly_cents
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN t USING (l_partkey)
WHERE p_brand = 'Brand#23' AND l_quantity < qty_threshold
"""


def _q22_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 shape (adapted: nationkey set stands in for phone
    prefixes): customers from a nation set with above-average positive
    balances and NO orders. Scalar subquery via broadcast cross join
    (stays in-plan, no driver round-trip) + anti join."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(1, 2, 3, 4, 5, 6, 7)
    )
    avg_pos = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    return (
        cust.crossJoin(F.broadcast(avg_pos))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "anti")
        .groupBy(F.col("c_nationkey").cast("int").alias("nationkey"))
        .agg(
            F.count("*").alias("numcust"),
            F.sum(F.floor(F.col("c_acctbal") * 100).cast("long")).alias(
                "totacctbal_cents"
            ),
        )
    )


_Q22_SQL = """
SELECT CAST(c_nationkey AS INTEGER) AS nationkey,
       CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(CAST(FLOOR(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS totacctbal_cents
FROM customer
WHERE c_nationkey IN (1, 2, 3, 4, 5, 6, 7)
  AND c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY nationkey
"""


def _q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6: revenue increase from ending low-margin discounts —
    a pure scan-side query: every predicate (year, discount band,
    quantity cap) pushes to the parquet reader, then one global sum.
    The plan should be scan → partial agg → single-row exchange."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * F.col("l_discount") * 100).cast(
                "long"
            )
        ).alias("revenue_cents")
    )


_Q6_SQL = """
SELECT CAST(sum(CAST(FLOOR(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def _q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of a customer-region's
    revenue per order year. Five-table star: lineitem fact, broadcast
    orders→customer→nation→region chain filtered to ASIA on the
    demand side, broadcast supplier→nation on the supply side; the
    share is a conditional-sum ratio (no second pass)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year")
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    asia_nations = (
        nation.join(
            region.filter(F.col("r_name") == "ASIA"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select(F.col("n_nationkey").alias("cust_nationkey"))
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    supp_nation = supp.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    # lineitem↔orders is fact-to-fact (shuffles on orderkey, AQE
    # picks the strategy); everything else is a broadcast dim.
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(asia_nations),
            F.col("c_nationkey") == F.col("cust_nationkey"),
        )
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    target = F.col("supp_nation") == "NATION_7"
    return (
        joined.groupBy("o_year")
        .agg(
            F.sum(
                F.when(target, _rev_cents()).otherwise(F.lit(0).cast("long"))
            ).alias("nation_cents"),
            F.sum(_rev_cents()).alias("region_cents"),
        )
        .select(
            "o_year",
            "nation_cents",
            "region_cents",
            F.round(
                F.col("nation_cents") / F.col("region_cents"), 6
            ).alias("mkt_share"),
        )
    )


_Q8_SQL = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CASE WHEN sn.n_name = 'NATION_7'
                THEN CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS nation_cents,
       CAST(sum(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
         AS region_cents,
       round(sum(CASE WHEN sn.n_name = 'NATION_7'
                 THEN CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                 ELSE 0 END) * 1.0 /
             sum(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)), 6)
         AS mkt_share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
GROUP BY o_year
"""


def _q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape (adapted: no partsupp/ps_supplycost in the
    driver schema — part.p_retailprice·quantity stands in as the
    cost term): profit on a part-name family by supplier nation and
    order year. LIKE filter prunes the broadcast part dim before the
    fact join."""
    li = _t(spark, sf_dir, "lineitem")
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%gear%"))
        .select("p_partkey", "p_retailprice")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    profit_cents = _rev_cents() - F.floor(
        F.col("p_retailprice") * F.col("l_quantity") * 100
    ).cast("long")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"), F.col("o_year"))
        .agg(F.sum(profit_cents).alias("profit_cents"))
    )


_Q9_SQL = """
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                - CAST(FLOOR(p_retailprice * l_quantity * 100) AS BIGINT)) AS BIGINT)
         AS profit_cents
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_name LIKE '%gear%'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY n_name, year(o_orderdate)
"""


def _q15_top_supplier(spark, sf_dir):
    """TPC-H Q15: the supplier(s) with maximum revenue over one
    quarter. The revenue relation is aggregated once and compared to
    its own broadcast scalar max — the reference view + subquery
    shape without recomputing the view."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev_cents()).alias("total_revenue_cents")
    )
    max_rev = revenue.agg(
        F.max("total_revenue_cents").alias("max_revenue_cents")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue_cents") == F.col("max_revenue_cents"))
        .join(F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue_cents")
    )


_Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(sum(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
           AS total_revenue_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY supplier_no
)
SELECT s_suppkey, s_name, total_revenue_cents
FROM revenue JOIN supplier ON supplier_no = s_suppkey
WHERE total_revenue_cents = (SELECT max(total_revenue_cents) FROM revenue)
"""


def _q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape: revenue from three disjunctive brand/size/
    quantity bands (adapted: p_size bands stand in for the container
    lists absent from the driver schema). One broadcast join; the
    OR-of-ANDs predicate stays a single codegen filter — no union of
    three scans."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(band).agg(
        F.sum(_rev_cents()).alias("revenue_cents"),
        F.count(F.lit(1)).alias("lineitem_count"),
    )


_Q19_SQL = """
SELECT CAST(coalesce(sum(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)), 0) AS BIGINT)
         AS revenue_cents,
       CAST(count(*) AS BIGINT) AS lineitem_count
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


def _q21_waiting_orders(spark, sf_dir):
    """TPC-H Q21 shape (adapted: ship-vs-order delay ≥ 90 days marks
    a lineitem late — the driver schema has no commit/receipt dates):
    suppliers who were the SOLE late supplier on a multi-supplier
    finished order. Correlated EXISTS / NOT EXISTS become semi / anti
    self-joins on the order key — three passes over lineitem, all
    shuffling on the same uniform key."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    late = (
        F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
        >= 90
    )
    l1 = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(late)
        .select("l_orderkey", "l_suppkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = l1.select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    waiting = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("o2"))
            & (F.col("l_suppkey") != F.col("s2")),
            "semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("o3"))
            & (F.col("l_suppkey") != F.col("s3")),
            "anti",
        )
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waiting.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


_Q21_SQL = """
WITH l1 AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
    AND date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) >= 90
)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM l1 l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY s_name
"""


def _orders_status_pivot(spark, sf_dir):
    """PIVOT surface: order counts and money cents per priority,
    pivoted to one column group per order status. Explicit pivot
    values keep the plan a single pass (no distinct-values job) and
    the output schema static."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("orders"),
            F.sum(cents).alias("cents"),
        )
        .select(
            "o_orderpriority",
            F.coalesce("F_orders", F.lit(0)).alias("f_orders"),
            F.coalesce("F_cents", F.lit(0)).alias("f_cents"),
            F.coalesce("O_orders", F.lit(0)).alias("o_orders"),
            F.coalesce("O_cents", F.lit(0)).alias("o_cents"),
            F.coalesce("P_orders", F.lit(0)).alias("p_orders"),
            F.coalesce("P_cents", F.lit(0)).alias("p_cents"),
        )
    )


_ORDERS_PIVOT_SQL = """
SELECT o_orderpriority,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f_orders,
       CAST(coalesce(sum(CASE WHEN o_orderstatus = 'F'
                         THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT) END), 0) AS BIGINT) AS f_cents,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS o_orders,
       CAST(coalesce(sum(CASE WHEN o_orderstatus = 'O'
                         THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT) END), 0) AS BIGINT) AS o_cents,
       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS p_orders,
       CAST(coalesce(sum(CASE WHEN o_orderstatus = 'P'
                         THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT) END), 0) AS BIGINT) AS p_cents
FROM orders
GROUP BY o_orderpriority
"""


def _churned_buyers_except(spark, sf_dir):
    """Set-difference surface (EXCEPT/subtract): customers who ordered
    in 1996 but not in 1997, enriched with name and balance. EXCEPT
    DISTINCT semantics on the key projection keep the subtract a
    hash-based set op on a uniform key."""
    orders = _t(spark, sf_dir, "orders")
    in_1996 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("o_custkey")
    in_1997 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("o_custkey")
    # subtract == EXCEPT DISTINCT (exceptAll would only cancel one
    # occurrence per match, leaving repeat 1996 buyers behind)
    churned = in_1996.subtract(in_1997)
    cust = _t(spark, sf_dir, "customer")
    # no broadcast hint: the churned keyset is the small side, and at
    # scale the customer dim may not fit a broadcast — AQE picks the
    # right strategy from runtime sizes
    return churned.join(
        cust, F.col("o_custkey") == F.col("c_custkey")
    ).select(
        "c_custkey",
        "c_name",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("acctbal_cents"),
    )


_CHURNED_EXCEPT_SQL = """
WITH churned AS (
  SELECT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  EXCEPT
  SELECT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
)
SELECT c_custkey, c_name,
       CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS acctbal_cents
FROM churned JOIN customer ON o_custkey = c_custkey
"""


def _orders_window_analytics(spark, sf_dir):
    """Window-frame surface in one query: per-customer order sequence
    with row_number, lag-based inter-order gap, running total
    (UNBOUNDED PRECEDING) and 3-order moving average (2 PRECEDING).
    One shuffle on the window partition key serves all four
    functions."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate"), F.col("o_orderkey")
    )
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    moving = w.rowsBetween(-2, Window.currentRow)
    prev_date = F.lag(F.col("o_orderdate").cast("date")).over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).cast("long").alias("order_seq"),
        F.datediff(F.col("o_orderdate").cast("date"), prev_date)
        .cast("long")
        .alias("gap_days"),
        F.sum(cents).over(running).alias("running_cents"),
        F.round(F.avg(cents).over(moving), 6).alias("moving_avg_cents"),
    )


_ORDERS_WINDOW_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(row_number() OVER w AS BIGINT) AS order_seq,
       CAST(date_diff('day',
                      lag(CAST(o_orderdate AS DATE)) OVER w,
                      CAST(o_orderdate AS DATE)) AS BIGINT) AS gap_days,
       CAST(sum(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_cents,
       round(avg(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)
         AS moving_avg_cents
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def _customer_rfm(spark, sf_dir):
    return profiling.rfm_segments(_t(spark, sf_dir, "orders"))


_CUSTOMER_RFM_SQL = r"""
WITH per AS (
  SELECT o_custkey,
         max(o_orderdate) AS last_order,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM orders GROUP BY o_custkey
),
mx AS (SELECT max(o_orderdate) AS maxd FROM orders),
base AS (
  SELECT p.*,
         CAST(date_diff('day', CAST(last_order AS DATE),
                        CAST(maxd AS DATE)) AS BIGINT) AS recency_days
  FROM per p, mx
),
ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY recency_days, o_custkey) AS r_rank,
         row_number() OVER (ORDER BY frequency, o_custkey) AS f_rank,
         row_number() OVER (ORDER BY monetary_cents, o_custkey) AS m_rank,
         count(*) OVER () AS n
  FROM base
)
SELECT (1 + CAST(FLOOR(5.0 * (r_rank - 1) / n) AS BIGINT)) AS r_seg,
       (1 + CAST(FLOOR(5.0 * (f_rank - 1) / n) AS BIGINT)) AS f_seg,
       (1 + CAST(FLOOR(5.0 * (m_rank - 1) / n) AS BIGINT)) AS m_seg,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(monetary_cents) AS BIGINT) AS monetary_cents_total
FROM ranked
GROUP BY r_seg, f_seg, m_seg
"""


def _part_affinity(spark, sf_dir):
    return profiling.part_affinity(_t(spark, sf_dir, "lineitem"))


_PART_AFFINITY_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
cnt AS (SELECT pk, CAST(count(*) AS BIGINT) AS cnt FROM op GROUP BY pk),
n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM op),
co AS (
  SELECT a.pk AS part_a, b.pk AS part_b, CAST(count(*) AS BIGINT) AS co_orders
  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY a.pk, b.pk
  HAVING count(*) >= 3
)
SELECT part_a, part_b, co_orders,
       ca.cnt AS orders_a, cb.cnt AS orders_b,
       CAST((1000000 * co_orders * n_orders) // (ca.cnt * cb.cnt) AS BIGINT)
         AS lift_ppm
FROM co
JOIN cnt ca ON ca.pk = co.part_a
JOIN cnt cb ON cb.pk = co.part_b
CROSS JOIN n
"""


def _customer_k_anonymity(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / F.lit(1000))
        .cast("long")
        .alias("acctbal_kb"),
        "c_mktsegment",
    )
    return privacy.k_anonymity_audit(
        cust, ["c_nationkey", "acctbal_kb"], "c_mktsegment"
    )


_K_ANONYMITY_SQL = """
WITH q AS (
  SELECT c_nationkey,
         CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS acctbal_kb,
         c_mktsegment
  FROM customer
),
classes AS (
  SELECT c_nationkey, acctbal_kb,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l
  FROM q GROUP BY c_nationkey, acctbal_kb
)
SELECT CAST(k AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(CASE WHEN n < k THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_classes,
       CAST(sum(CASE WHEN n < k THEN n ELSE 0 END) AS BIGINT)
         AS records_at_risk,
       CAST(sum(CASE WHEN l = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS homogeneous_classes,
       CAST(min(n) AS BIGINT) AS min_class_size,
       CAST(min(l) AS BIGINT) AS min_l
FROM classes CROSS JOIN (SELECT unnest([2, 5, 10, 20]) AS k) ks
GROUP BY k
"""


def _orders_pareto_share(spark, sf_dir, ks=(1, 10, 100)):
    """Revenue-concentration audit: the share of total revenue held
    by the top-K customers for K in {1, 10, 100} — the whale-risk
    number. Per-customer revenue folds to exact integer cents; the
    top-max(K) pick is (rev desc, custkey asc) + limit ⇒
    TakeOrderedAndProject; ranking and cumulative sums act on that
    ≤ max(K)-row relation plus one broadcast 1-row grand total."""
    from pyspark.sql.window import Window

    orders = _t(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev_cents")
    )
    top = rev.orderBy(F.desc("rev_cents"), F.asc("o_custkey")).limit(
        max(ks)
    )
    totals = rev.agg(
        F.sum("rev_cents").cast("long").alias("total_cents"),
        F.count(F.lit(1)).cast("long").alias("n_customers"),
    )
    w = Window.orderBy(F.desc("rev_cents"), F.asc("o_custkey"))
    ranked = (
        top.withColumn("r", F.row_number().over(w))
        .withColumn(
            "cum",
            F.sum("rev_cents").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return (
        ranked.filter(F.col("r").isin([int(k) for k in ks]))
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("r").cast("long").alias("top_k"),
            F.col("cum").cast("long").alias("top_rev_cents"),
            "total_cents",
            "n_customers",
            F.expr("(1000000 * cum) DIV total_cents").alias("share_ppm"),
        )
    )


_PARETO_SHARE_SQL = """
WITH rev AS (
  SELECT o_custkey,
         CAST(sum(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders GROUP BY 1
),
t AS (
  SELECT CAST(sum(rev_cents) AS BIGINT) AS total_cents,
         CAST(count(*) AS BIGINT) AS n_customers
  FROM rev
),
rk AS (
  SELECT rev_cents,
         row_number() OVER (ORDER BY rev_cents DESC, o_custkey ASC) AS r,
         sum(rev_cents) OVER (ORDER BY rev_cents DESC, o_custkey ASC
                              ROWS UNBOUNDED PRECEDING) AS cum
  FROM rev
)
SELECT CAST(r AS BIGINT) AS top_k, CAST(cum AS BIGINT) AS top_rev_cents,
       total_cents, n_customers,
       CAST((1000000 * cum) // total_cents AS BIGINT) AS share_ppm
FROM rk CROSS JOIN t
WHERE r IN (1, 10, 100)
"""


def _orders_benford(spark, sf_dir):
    return profiling.benford_audit(
        _t(spark, sf_dir, "orders"), "o_totalprice"
    )


_BENFORD_SQL = """
WITH v AS (
  SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_totalprice > 0
),
d AS (
  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM v GROUP BY 1
),
t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS n_total FROM d)
SELECT digit, n_rows,
       CAST((1000000 * n_rows) // n_total AS BIGINT) AS observed_ppm,
       CAST(FLOOR(1000000.0 * log10(1.0 + 1.0 / digit)) AS BIGINT)
         AS expected_ppm,
       CAST((1000000 * n_rows) // n_total AS BIGINT)
         - CAST(FLOOR(1000000.0 * log10(1.0 + 1.0 / digit)) AS BIGINT)
         AS delta_ppm
FROM d CROSS JOIN t
"""


# ------------------------------------------------------------------
# Cohort LTV curves
# ------------------------------------------------------------------

def _cohort_ltv(spark, sf_dir):
    return profiling.cohort_ltv(_t(spark, sf_dir, "orders"))


_COHORT_LTV_SQL = """
WITH o AS (
  SELECT o_custkey,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
              AS BIGINT) AS m,
         CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
f AS (SELECT o_custkey, min(m) AS m0 FROM o GROUP BY o_custkey),
cs AS (SELECT m0, CAST(count(DISTINCT o_custkey) AS BIGINT)
              AS cohort_size FROM f GROUP BY m0),
cell AS (
  SELECT f.m0, o.m - f.m0 AS month_offset,
         CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
         CAST(sum(o.cents) AS BIGINT) AS revenue_cents
  FROM o JOIN f USING (o_custkey)
  GROUP BY f.m0, o.m - f.m0
),
cum AS (
  SELECT m0, month_offset, n_active, revenue_cents,
         CAST(sum(revenue_cents) OVER (PARTITION BY m0
           ORDER BY month_offset ROWS BETWEEN UNBOUNDED PRECEDING
           AND CURRENT ROW) AS BIGINT) AS cum
  FROM cell
)
SELECT lpad(CAST(m0 // 12 AS VARCHAR), 4, '0') || '-' ||
         lpad(CAST(m0 % 12 + 1 AS VARCHAR), 2, '0') AS cohort_month,
       CAST(month_offset AS BIGINT) AS month_offset, n_active,
       revenue_cents, cum AS cum_revenue_cents,
       CAST(cum // cohort_size AS BIGINT) AS cum_ltv_cents
FROM cum JOIN cs USING (m0)
"""


# ------------------------------------------------------------------
# Kaplan-Meier return-risk survival over transit time
# ------------------------------------------------------------------

def _return_survival(spark, sf_dir):
    return profiling.return_survival(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    )


# Product-limit fold replayed as a recursive CTE over the bounded
# transit-day grid — floor-compounded ppm survival, bit-identical to
# the Spark higher-order fold (profiling.py:return_survival).
_RETURN_SURVIVAL_SQL = """
WITH RECURSIVE per AS (
  SELECT CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS t,
         CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS d,
         CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 0 ELSE 1 END)
              AS BIGINT) AS c
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  GROUP BY 1
),
idx AS (
  SELECT t, d, c, row_number() OVER (ORDER BY t) AS i FROM per
),
tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS n0 FROM per),
f AS (
  SELECT idx.i, idx.t, idx.d, idx.c, tot.n0 AS n,
         (1000000 * (tot.n0 - idx.d)) // tot.n0 AS s
  FROM idx, tot WHERE idx.i = 1
  UNION ALL
  SELECT h.i, h.t, h.d, h.c,
         f.n - f.d - f.c,
         (f.s * ((f.n - f.d - f.c) - h.d)) // (f.n - f.d - f.c)
  FROM f JOIN idx h ON h.i = f.i + 1
)
SELECT t AS latency_days, n AS n_at_risk, d AS n_returned,
       c AS n_censored,
       CAST((1000000 * d) // n AS BIGINT) AS hazard_ppm,
       CAST(s AS BIGINT) AS survival_ppm
FROM f
"""


REGISTRY.update({
    "q1_pricing_summary": QuerySpec(_q1, _Q1_SQL, "TPC-H Q1 shape"),
    "q3_shipping_priority": QuerySpec(_q3, _Q3_SQL, "TPC-H Q3 shape, top-10"),
    "q5_local_supplier_volume": QuerySpec(_q5, _Q5_SQL, "TPC-H Q5 shape"),
    "top_orders_per_customer": QuerySpec(
        _top_orders_per_customer, _TOP_ORDERS_SQL, "window rank top-3"
    ),
    "orders_monthly": QuerySpec(
        _orders_monthly, _ORDERS_MONTHLY_SQL, "calendar rollup"
    ),
    "q4_order_priority_semi": QuerySpec(
        _q4_semi, _Q4_SEMI_SQL, "left-semi join (EXISTS shape)"
    ),
    "q13_customer_distribution": QuerySpec(
        _q13_distribution, _Q13_SQL, "left-outer join + 2-level agg"
    ),
    "inactive_customers_anti": QuerySpec(
        _anti_inactive_customers, _ANTI_SQL, "anti join (NOT EXISTS shape)"
    ),
    "q18_heavy_orders": QuerySpec(
        _q18_heavy_orders, _Q18_SQL, "aggregate-then-join + HAVING"
    ),
    "orders_rollup": QuerySpec(
        _orders_rollup, _ROLLUP_SQL, "ROLLUP grouping sets, one pass"
    ),
    "orders_cube": QuerySpec(
        _orders_cube, _CUBE_SQL, "CUBE grouping sets (all granularities)"
    ),
    "revenue_daily_gapfill": QuerySpec(
        _revenue_daily_gapfill, _GAPFILL_SQL,
        "date-spine gap fill (sequence+explode) + cumulative window",
    ),
    "q7_nation_volume": QuerySpec(
        _q7_nation_volume, _Q7_SQL,
        "TPC-H Q7 shape: 5-way join, all dims broadcast, bilateral "
        "nation filter, per-year rollup",
    ),
    "q10_returned_items": QuerySpec(
        _q10_returned_items, _Q10_SQL,
        "TPC-H Q10 shape: returned-item revenue per customer, "
        "deterministic top-20",
    ),
    "q12_ship_delay": QuerySpec(
        _q12_ship_delay, _Q12_SQL,
        "TPC-H Q12 shape: derived delay buckets + CASE aggregation",
    ),
    "q14_promo_revenue": QuerySpec(
        _q14_promo_revenue, _Q14_SQL,
        "TPC-H Q14 shape: LIKE category filter, conditional-sum ratio",
    ),
    "q17_small_quantity": QuerySpec(
        _q17_small_quantity, _Q17_SQL,
        "TPC-H Q17 shape: correlated scalar subquery decorrelated to "
        "agg + join",
    ),
    "q22_sales_opportunity": QuerySpec(
        _q22_sales_opportunity, _Q22_SQL,
        "TPC-H Q22 shape: scalar-subquery threshold + NOT EXISTS "
        "anti join",
    ),
    "q6_forecast_revenue": QuerySpec(
        _q6_forecast_revenue, _Q6_SQL,
        "TPC-H Q6: pure pushdown scan + single global sum",
    ),
    "q8_market_share": QuerySpec(
        _q8_market_share, _Q8_SQL,
        "TPC-H Q8 shape: five-table star, conditional-sum market "
        "share per year",
    ),
    "q9_product_profit": QuerySpec(
        _q9_product_profit, _Q9_SQL,
        "TPC-H Q9 shape (retailprice cost term): profit by supplier "
        "nation and year over a LIKE-pruned part family",
    ),
    "q15_top_supplier": QuerySpec(
        _q15_top_supplier, _Q15_SQL,
        "TPC-H Q15: max-revenue supplier via broadcast scalar max "
        "over a single-pass revenue aggregate",
    ),
    "q19_disjunctive_revenue": QuerySpec(
        _q19_disjunctive_revenue, _Q19_SQL,
        "TPC-H Q19 shape: OR-of-ANDs brand/size/quantity bands in "
        "one codegen filter",
    ),
    "q21_waiting_orders": QuerySpec(
        _q21_waiting_orders, _Q21_SQL,
        "TPC-H Q21 shape: sole-late-supplier via semi + anti "
        "self-joins on the order key",
    ),
    "orders_window_analytics": QuerySpec(
        _orders_window_analytics, _ORDERS_WINDOW_SQL,
        "window frames: row_number / lag gap / running sum / 3-row "
        "moving average over one shuffle",
    ),
    "orders_status_pivot": QuerySpec(
        _orders_status_pivot, _ORDERS_PIVOT_SQL,
        "PIVOT with explicit values (single-pass, static schema)",
    ),
    "churned_buyers_except": QuerySpec(
        _churned_buyers_except, _CHURNED_EXCEPT_SQL,
        "set difference (EXCEPT): 1996 buyers absent in 1997",
    ),
    "customer_rfm_segments": QuerySpec(
        _customer_rfm, _CUSTOMER_RFM_SQL,
        "exact equal-count RFM customer grid via the distributed "
        "global-rank primitive (range-sharded windows + broadcast "
        "offsets — no single-task sort)",
    ),
    "part_affinity": QuerySpec(
        _part_affinity, _PART_AFFINITY_SQL,
        "market-basket part affinity: exact co-occurrence support "
        "and lift over orders in 64-bit integer division (per-order "
        "quadratic in bounded basket size, linear in orders — the "
        "association-mining table behind bundling analysis)",
    ),
    "orders_pareto_share": QuerySpec(
        _orders_pareto_share, _PARETO_SHARE_SQL,
        "revenue concentration: share of total revenue held by the "
        "top-{1,10,100} customers in exact integer cents — "
        "TakeOrderedAndProject pick + broadcast grand total",
    ),
    "customer_k_anonymity": QuerySpec(
        _customer_k_anonymity, _K_ANONYMITY_SQL,
        "k-anonymity / l-diversity release audit over quasi-"
        "identifier classes (nation × balance bucket, segment "
        "sensitive): violations, records-at-risk, homogeneous "
        "classes per candidate k",
    ),
    "orders_benford_audit": QuerySpec(
        _orders_benford, _BENFORD_SQL,
        "Benford first-digit audit over order totals (fabricated-"
        "data detector): decimal-string digit extraction, exact "
        "integer-DIV observed shares vs log10(1+1/d) expectation",
    ),
    "customer_cohort_ltv": QuerySpec(
        _cohort_ltv, _COHORT_LTV_SQL,
        "cohort lifetime-value curves: customers cohort by first "
        "order month, revenue accumulates per cohort across month "
        "offsets (floor-cents exact), normalized per member; two "
        "aggregates sharing the custkey shuffle + a bounded-grid "
        "cumulative window",
    ),
    "lineitem_return_survival": QuerySpec(
        _return_survival, _RETURN_SURVIVAL_SQL,
        "Kaplan-Meier product-limit estimator with right-censoring: "
        "return risk over fulfillment-latency days (kept items "
        "censor at ship); one fact join + one hash aggregate to the bounded day "
        "grid, then an integer ppm fold — survival analysis as a "
        "first-class relational operator",
    ),
})
