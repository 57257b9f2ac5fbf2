"""Diagnostics family (SURVEY §2 A1-A11 over the data_files proxy).

See plans/common.py for the cross-engine determinism rules every
oracle follows.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from iceberg_diag_spark.operators.binpack import binpack_groups
from iceberg_diag_spark.operators.diagnostics import (
    partition_stats,
    table_metrics,
)
from iceberg_diag_spark.sources.data_files import files_from_lineitem
from iceberg_diag_spark.plans.common import (
    FILES_CTE,
    PROXY_MANIFEST_COUNT,
    REGISTRY,
    QuerySpec,
    _t,
)


# --------------------------------------------------------------------
# Diagnostics family (SURVEY §2 A1-A11 over the data_files relation)
# --------------------------------------------------------------------

def _diag_partition_stats(spark, sf_dir):
    files = files_from_lineitem(_t(spark, sf_dir, "lineitem"))
    return partition_stats(files).select(
        "partition_key",
        F.col("file_count").cast("long").alias("file_count"),
        F.col("total_size").cast("long").alias("total_size"),
        F.col("scan_overhead").cast("long").alias("scan_overhead"),
        F.col("data_file_count").cast("long").alias("data_file_count"),
        F.col("data_size").cast("long").alias("data_size"),
    )


_DIAG_PARTITION_STATS_SQL = f"""
WITH files AS ({FILES_CTE})
SELECT partition_key,
       CAST(count(*) AS BIGINT) AS file_count,
       CAST(sum(file_size_in_bytes) AS BIGINT) AS total_size,
       CAST(sum(file_size_in_bytes // 33554432 + 2) AS BIGINT) AS scan_overhead,
       CAST(sum(CASE WHEN content = 0 THEN 1 ELSE 0 END) AS BIGINT) AS data_file_count,
       CAST(coalesce(sum(CASE WHEN content = 0 THEN file_size_in_bytes END), 0) AS BIGINT) AS data_size
FROM files
GROUP BY partition_key
"""


def _diag_table_stats(spark, sf_dir):
    files = files_from_lineitem(_t(spark, sf_dir, "lineitem"))
    ps = partition_stats(files)
    return (
        ps.agg(
            F.sum("file_count").cast("long").alias("file_count"),
            F.sum("total_size").cast("long").alias("total_size"),
            (F.sum("scan_overhead") + PROXY_MANIFEST_COUNT)
            .cast("long")
            .alias("full_scan_overhead"),
            F.sum("data_file_count").cast("long").alias("data_file_count"),
            F.sum("data_size").cast("long").alias("data_size"),
            F.count("*").cast("long").alias("total_partitions"),
            F.round(F.min(F.col("total_size") / F.col("file_count")), 6).alias(
                "worst_avg_file_size"
            ),
            F.max("total_size").cast("long").alias("largest_partition_size"),
        )
        .withColumn(
            "avg_file_size",
            F.round(F.col("data_size") / F.col("data_file_count"), 6),
        )
    )


_DIAG_TABLE_STATS_SQL = f"""
WITH files AS ({FILES_CTE}),
p AS (
  SELECT partition_key,
         count(*) AS fc,
         sum(file_size_in_bytes) AS ts,
         sum(file_size_in_bytes // 33554432 + 2) AS oh,
         sum(CASE WHEN content = 0 THEN 1 ELSE 0 END) AS dfc,
         coalesce(sum(CASE WHEN content = 0 THEN file_size_in_bytes END), 0) AS dsz
  FROM files GROUP BY partition_key
)
SELECT CAST(sum(fc) AS BIGINT) AS file_count,
       CAST(sum(ts) AS BIGINT) AS total_size,
       CAST(sum(oh) + {PROXY_MANIFEST_COUNT} AS BIGINT) AS full_scan_overhead,
       CAST(sum(dfc) AS BIGINT) AS data_file_count,
       CAST(sum(dsz) AS BIGINT) AS data_size,
       CAST(count(*) AS BIGINT) AS total_partitions,
       round(min(CAST(ts AS DOUBLE) / fc), 6) AS worst_avg_file_size,
       CAST(max(ts) AS BIGINT) AS largest_partition_size,
       round(CAST(sum(dsz) AS DOUBLE) / sum(dfc), 6) AS avg_file_size
FROM p
"""


def _diag_metrics(spark, sf_dir):
    files = files_from_lineitem(_t(spark, sf_dir, "lineitem"))
    return table_metrics(files, PROXY_MANIFEST_COUNT)


def _diag_binpack(spark, sf_dir):
    files = files_from_lineitem(_t(spark, sf_dir, "lineitem")).filter(
        F.col("content") == 0
    )
    return binpack_groups(files)


# DuckDB oracle for the greedy check-before-append fold
# (reference table_metrics.py:179-197). The fold is sequential, but
# its group BOUNDARIES admit an O(#groups) recursion over prefix
# sums: a group starting at row srn with base = P(srn-1) ends at the
# FIRST row where P(rn) - base > cap (that row is included — the
# group closes before appending the next), and the next group starts
# one past it. Recursion depth = max groups per partition (~hundreds
# at sf0.1), not rows (~tens of thousands), so the oracle stays fast.
# Ties between equal sizes don't affect per-group (count, total).
# Parametrized over the grouping keys so the same recursion serves
# the single-table proxy (partition_key) and the multi-table unioned
# job (table_name, partition_key).
def _binpack_cte(keys: list[str], threshold: int = 786432000) -> str:
    kl = ", ".join(keys)
    b_kl = ", ".join(f"b.{k}" for k in keys)
    p_eq_b = " AND ".join(f"p.{k} = b.{k}" for k in keys)
    t_eq_b = " AND ".join(f"t.{k} = b.{k}" for k in keys)
    q_kl = ", ".join(f"q.{k}" for k in keys)
    return f"""
data AS (
  SELECT {kl}, file_size_in_bytes AS sz,
         row_number() OVER (PARTITION BY {kl}
                            ORDER BY file_size_in_bytes) AS rn
  FROM files WHERE content = 0
),
pre AS (
  SELECT {kl}, sz, rn,
         sum(sz) OVER (PARTITION BY {kl} ORDER BY rn) AS ps
  FROM data
),
bounds AS (
  SELECT {kl}, 0 AS gid, CAST(1 AS BIGINT) AS srn,
         CAST(0 AS HUGEINT) AS base
  FROM (SELECT DISTINCT {kl} FROM data)
  UNION ALL
  SELECT {q_kl}, q.gid + 1, q.ern + 1, q.eps
  FROM (
    SELECT {b_kl}, b.gid, min(p.rn) AS ern, min(p.ps) AS eps
    FROM bounds b
    JOIN pre p ON {p_eq_b}
              AND p.rn >= b.srn
              AND p.ps - b.base > {threshold}
    GROUP BY {b_kl}, b.gid
  ) q
),
tot AS (
  SELECT {kl}, max(rn) AS mx, max(ps) AS total FROM pre GROUP BY {kl}
),
grp AS (
  -- group k spans rows [srn_k, srn_(k+1)): its count and size fall
  -- straight out of consecutive bounds rows (base_k = P(srn_k - 1)),
  -- O(#groups) with no row-level join. A crossing on a partition's
  -- LAST row leaves a phantom bounds row at srn = mx+1 (the fold
  -- emits no empty trailing group) — filtered out here.
  SELECT {b_kl}, b.gid,
         coalesce(lead(b.srn) OVER w, t.mx + 1) - b.srn AS cnt,
         coalesce(lead(b.base) OVER w, t.total) - b.base AS gsz
  FROM bounds b JOIN tot t ON {t_eq_b} AND b.srn <= t.mx
  WINDOW w AS (PARTITION BY {b_kl} ORDER BY b.gid)
)
"""


_BINPACK_CTE = _binpack_cte(["partition_key"])


_DIAG_BINPACK_SQL = f"""
WITH RECURSIVE files AS ({FILES_CTE}),
{_BINPACK_CTE}
SELECT partition_key,
       CAST(gid AS BIGINT) AS group_id,
       CAST(cnt AS BIGINT) AS group_file_count,
       CAST(gsz AS BIGINT) AS group_size
FROM grp
"""


def _metrics_sql(files_cte: str, table_keys: list[str], manifest_term: str) -> str:
    """Full 9-metric oracle SQL, parametrized: table_keys=[] for the
    single-table proxy, ["table_name"] for the multi-table unioned
    job. manifest_term is SQL for the per-table manifest count added
    to FULL_SCAN_OVERHEAD."""
    part_keys = table_keys + ["partition_key"]
    pk = ", ".join(part_keys)
    tk = ", ".join(table_keys)
    tk_pre = f"{tk}, " if table_keys else ""
    g_tk = ", ".join(f"g.{k}" for k in table_keys)
    g_tk_pre = f"{g_tk}, " if table_keys else ""
    group_g = f"GROUP BY {tk}" if table_keys else ""
    return f"""
WITH RECURSIVE files AS ({files_cte}),
{_binpack_cte(part_keys)},
after_p AS (
  SELECT {pk},
         count(*) AS afc,
         sum(gsz // 33554432 + 2) AS aoh
  FROM grp GROUP BY {pk}
),
before_p AS (
  SELECT {pk},
         count(*) AS fc,
         sum(file_size_in_bytes) AS ts,
         sum(file_size_in_bytes // 33554432 + 2) AS oh,
         sum(CASE WHEN content = 0 THEN 1 ELSE 0 END) AS dfc,
         coalesce(sum(CASE WHEN content = 0 THEN file_size_in_bytes END), 0) AS dsz
  FROM files GROUP BY {pk}
),
p AS (
  SELECT b.*, coalesce(a.afc, 0) AS afc, coalesce(a.aoh, 0) AS aoh
  FROM before_p b LEFT JOIN after_p a USING ({pk})
),
g AS (
  SELECT {tk_pre}
         CAST(sum(fc) AS DOUBLE) AS file_count,
         CAST(sum(ts) AS DOUBLE) AS total_size,
         CAST(sum(oh) + ({manifest_term}) AS DOUBLE) AS full_scan_overhead,
         CASE WHEN sum(dfc) > 0
              THEN CAST(sum(dsz) AS DOUBLE) / CAST(sum(dfc) AS DOUBLE)
              ELSE 0.0 END AS avg_file_size,
         coalesce(min(CAST(ts AS DOUBLE) / fc), 0.0) AS worst_avg_file_size,
         CAST(coalesce(max(ts), 0) AS DOUBLE) AS largest_partition_size,
         CAST(count(*) AS DOUBLE) AS total_partitions,
         CAST(sum(afc) AS DOUBLE) AS after_file_count,
         CAST(sum(aoh) AS DOUBLE) AS after_full_scan_overhead,
         max(CASE WHEN fc - afc > 0
                  THEN struct_pack(r := fc - afc, b := fc, a := afc) END)
           AS worst_fc,
         max(CASE WHEN oh - aoh > 0
                  THEN struct_pack(r := oh - aoh, b := oh, a := aoh) END)
           AS worst_oh
  FROM p
  {group_g}
),
sel AS (
  SELECT {g_tk_pre}m.metric, m.ordinal,
         CASE m.metric
           WHEN 'FULL_SCAN_OVERHEAD' THEN g.full_scan_overhead
           WHEN 'WORST_SCAN_OVERHEAD' THEN CAST(coalesce(g.worst_oh.b, 0) AS DOUBLE)
           WHEN 'FILE_COUNT' THEN g.file_count
           WHEN 'WORST_FILE_COUNT' THEN CAST(coalesce(g.worst_fc.b, 0) AS DOUBLE)
           WHEN 'AVG_FILE_SIZE' THEN g.avg_file_size
           WHEN 'WORST_AVG_FILE_SIZE' THEN g.worst_avg_file_size
           WHEN 'TOTAL_TABLE_SIZE' THEN g.total_size
           WHEN 'LARGEST_PARTITION_SIZE' THEN g.largest_partition_size
           WHEN 'TOTAL_PARTITIONS' THEN g.total_partitions
         END AS before,
         CASE m.metric
           WHEN 'FULL_SCAN_OVERHEAD' THEN g.after_full_scan_overhead
           WHEN 'WORST_SCAN_OVERHEAD' THEN CAST(coalesce(g.worst_oh.a, 0) AS DOUBLE)
           WHEN 'FILE_COUNT' THEN g.after_file_count
           WHEN 'WORST_FILE_COUNT' THEN CAST(coalesce(g.worst_fc.a, 0) AS DOUBLE)
         END AS after
  FROM g CROSS JOIN (VALUES
    ('FULL_SCAN_OVERHEAD', 0), ('WORST_SCAN_OVERHEAD', 1),
    ('FILE_COUNT', 2), ('WORST_FILE_COUNT', 3),
    ('AVG_FILE_SIZE', 4), ('WORST_AVG_FILE_SIZE', 5),
    ('TOTAL_TABLE_SIZE', 6), ('LARGEST_PARTITION_SIZE', 7),
    ('TOTAL_PARTITIONS', 8)
  ) m(metric, ordinal)
)
SELECT {tk_pre}metric, CAST(ordinal AS INTEGER) AS ordinal, before, after,
       CASE WHEN after IS NULL THEN NULL
            WHEN before = 0 AND after = 0 THEN 0.0
            WHEN before = 0 THEN CAST('inf' AS DOUBLE)
            ELSE (1.0 - after / before) * 100.0
       END AS improvement
FROM sel
"""


_DIAG_METRICS_SQL = _metrics_sql(FILES_CTE, [], str(PROXY_MANIFEST_COUNT))

_MULTI_FILES_CTE = """
  SELECT 'tbl_' || l_linestatus AS table_name,
         l_returnflag AS partition_key,
         CAST(FLOOR(l_extendedprice * 1000) AS BIGINT) AS file_size_in_bytes,
         CAST(l_linenumber % 3 AS INTEGER) AS content
  FROM lineitem
"""

_DIAG_METRICS_MULTI_SQL = _metrics_sql(
    _MULTI_FILES_CTE,
    ["table_name"],
    "CASE table_name WHEN 'tbl_O' THEN 10 WHEN 'tbl_F' THEN 20 ELSE 0 END",
)


def _diag_metrics_multi(spark, sf_dir):
    """X1 as a single unioned Spark job: every table's `.files`
    relation unioned with a table_name column, all 9 metrics for all
    tables computed at once (two proxy tables split from lineitem by
    l_linestatus; per-table manifest counts broadcast)."""
    from iceberg_diag_spark.functions.parallel import ensure_parallelism
    from iceberg_diag_spark.operators.diagnostics import multi_table_metrics

    li = ensure_parallelism(_t(spark, sf_dir, "lineitem"))
    files = li.select(
        F.concat(F.lit("tbl_"), F.col("l_linestatus")).alias("table_name"),
        F.col("l_returnflag").alias("partition_key"),
        (F.col("l_extendedprice") * 1000).cast("long").alias("file_size_in_bytes"),
        (F.col("l_linenumber") % 3).cast("int").alias("content"),
    )
    mcounts = spark.createDataFrame(
        [("tbl_O", 10), ("tbl_F", 20)], "table_name string, manifest_count int"
    )
    return multi_table_metrics(files, mcounts)


REGISTRY.update({
    "diag_partition_stats": QuerySpec(
        _diag_partition_stats, _DIAG_PARTITION_STATS_SQL,
        "A1/A3 per-partition before-stats over the data_files proxy",
    ),
    "diag_table_stats": QuerySpec(
        _diag_table_stats, _DIAG_TABLE_STATS_SQL,
        "A2-A7 global before metrics (single row)",
    ),
    "diag_metrics": QuerySpec(
        _diag_metrics, _DIAG_METRICS_SQL,
        "Flagship 9-metric diagnostics incl. bin-pack after/improvement "
        "(A8-A11; sequential fold oracle-checked via boundary-recursive CTE)",
    ),
    "diag_binpack_groups": QuerySpec(
        _diag_binpack, _DIAG_BINPACK_SQL,
        "A9 greedy bin-packing groups per partition "
        "(group-boundary recursive-CTE oracle over prefix sums)",
    ),
    "diag_metrics_multi_table": QuerySpec(
        _diag_metrics_multi, _DIAG_METRICS_MULTI_SQL,
        "X1 as one unioned Spark job: all tables' 9-metric "
        "diagnostics at once (vs the reference's 10-thread pool); "
        "per-table manifest counts broadcast",
    ),
})
