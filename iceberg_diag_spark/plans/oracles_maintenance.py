"""Table-maintenance diagnostics (operators/maintenance.py).

See plans/common.py for the cross-engine determinism rules every
oracle follows.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from iceberg_diag_spark.functions.parallel import materialize
from iceberg_diag_spark.operators import maintenance
from iceberg_diag_spark.sources.data_files import (
    column_values_from_lineitem,
    file_column_stats_from_lineitem,
    files_from_lineitem,
)
from iceberg_diag_spark.plans.common import FILES_CTE, REGISTRY, QuerySpec, _t
from iceberg_diag_spark.plans.oracles_diag import _binpack_cte


# Table-maintenance diagnostics (operators/maintenance.py): the
# remediations beyond the reference's bin-pack compaction model —
# rewrite-deletes, remove-orphan-files, expire-snapshots, and
# z-order rewrite planning — over the same data_files proxy.
# --------------------------------------------------------------------

def _diag_delete_impact(spark, sf_dir):
    files = files_from_lineitem(_t(spark, sf_dir, "lineitem"))
    return maintenance.delete_impact(files)


_DIAG_DELETE_IMPACT_SQL = f"""
WITH files AS ({FILES_CTE})
SELECT partition_key,
       CAST(sum(CASE WHEN content = 0 THEN 1 ELSE 0 END) AS BIGINT) AS data_files,
       CAST(coalesce(sum(CASE WHEN content = 0 THEN file_size_in_bytes END), 0) AS BIGINT) AS data_bytes,
       CAST(sum(CASE WHEN content = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pos_delete_files,
       CAST(coalesce(sum(CASE WHEN content = 1 THEN file_size_in_bytes END), 0) AS BIGINT) AS pos_delete_bytes,
       CAST(sum(CASE WHEN content = 2 THEN 1 ELSE 0 END) AS BIGINT) AS eq_delete_files,
       CAST(coalesce(sum(CASE WHEN content = 2 THEN file_size_in_bytes END), 0) AS BIGINT) AS eq_delete_bytes,
       CAST(sum(file_size_in_bytes // 33554432 + 2) AS BIGINT) AS rewrite_read_cost,
       CASE WHEN sum(CASE WHEN content = 0 THEN 1 ELSE 0 END) = 0 THEN CAST(-1 AS BIGINT)
            ELSE CAST(FLOOR(sum(CASE WHEN content IN (1, 2) THEN 1 ELSE 0 END) * 1000000.0
                            / sum(CASE WHEN content = 0 THEN 1 ELSE 0 END)) AS BIGINT)
       END AS delete_per_data_ppm
FROM files
GROUP BY partition_key
"""


def _diag_orphan_files(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    path = F.concat_ws("-", "l_orderkey", "l_linenumber")
    listed = li.select(
        path.alias("file_path"),
        F.col("l_returnflag").alias("partition_key"),
        (F.col("l_extendedprice") * 1000).cast("long").alias("file_size_in_bytes"),
    )
    referenced = li.filter(
        (F.col("l_orderkey") + F.col("l_linenumber")) % 11 != 0
    ).select(path.alias("file_path"))
    return maintenance.orphan_files(listed, referenced)


_DIAG_ORPHAN_SQL = """
WITH listed AS (
  SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS file_path,
         l_returnflag AS partition_key,
         CAST(FLOOR(l_extendedprice * 1000) AS BIGINT) AS file_size_in_bytes
  FROM lineitem
),
refs AS (
  SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS file_path
  FROM lineitem WHERE (l_orderkey + l_linenumber) % 11 <> 0
),
j AS (
  SELECT l.partition_key, l.file_size_in_bytes,
         CASE WHEN r.file_path IS NULL THEN 1 ELSE 0 END AS orph
  FROM listed l LEFT JOIN refs r ON l.file_path = r.file_path
)
SELECT partition_key,
       CAST(count(*) AS BIGINT) AS listed_files,
       CAST(sum(file_size_in_bytes) AS BIGINT) AS listed_bytes,
       CAST(sum(orph) AS BIGINT) AS orphan_files,
       CAST(coalesce(sum(CASE WHEN orph = 1 THEN file_size_in_bytes END), 0) AS BIGINT) AS orphan_bytes,
       CAST(FLOOR(sum(orph) * 1000000.0 / count(*)) AS BIGINT) AS orphan_ppm
FROM j
GROUP BY partition_key
"""


def _diag_snapshot_retention(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    files = li.select(
        F.col("l_returnflag").alias("partition_key"),
        (F.col("l_extendedprice") * 1000).cast("long").alias("file_size_in_bytes"),
        (F.col("l_linenumber") % 3).cast("int").alias("content"),
        F.col("l_shipdate").alias("added_at"),
    )
    return maintenance.snapshot_retention(files, retention_days=180)


_DIAG_RETENTION_SQL = """
WITH files AS (
  SELECT l_returnflag AS partition_key,
         CAST(FLOOR(l_extendedprice * 1000) AS BIGINT) AS file_size_in_bytes,
         CAST(l_linenumber % 3 AS INTEGER) AS content,
         l_shipdate AS added_at
  FROM lineitem
),
c AS (SELECT max(added_at) - INTERVAL 180 DAY AS cutoff FROM files)
SELECT partition_key,
       CAST(sum(CASE WHEN added_at < cutoff THEN 1 ELSE 0 END) AS BIGINT) AS expired_files,
       CAST(coalesce(sum(CASE WHEN added_at < cutoff THEN file_size_in_bytes END), 0) AS BIGINT) AS expired_bytes,
       CAST(sum(CASE WHEN added_at < cutoff AND content <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS reclaimable_files,
       CAST(coalesce(sum(CASE WHEN added_at < cutoff AND content <> 0 THEN file_size_in_bytes END), 0) AS BIGINT) AS reclaimable_bytes,
       CAST(sum(file_size_in_bytes)
            - coalesce(sum(CASE WHEN added_at < cutoff AND content <> 0 THEN file_size_in_bytes END), 0) AS BIGINT) AS retained_bytes,
       CAST(count(DISTINCT CASE WHEN added_at < cutoff THEN date_trunc('month', added_at) END) AS BIGINT) AS expired_months
FROM files CROSS JOIN c
GROUP BY partition_key
"""


def _diag_zorder_layout(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    files = li.select(
        (F.col("l_partkey") % 256).cast("int").alias("x"),
        (F.col("l_suppkey") % 256).cast("int").alias("y"),
        (F.col("l_extendedprice") * 1000).cast("long").alias("file_size_in_bytes"),
    )
    return maintenance.zorder_layout(files)


_DIAG_ZORDER_SQL = f"""
WITH files AS (
  SELECT CAST(l_partkey % 256 AS INTEGER) AS x,
         CAST(l_suppkey % 256 AS INTEGER) AS y,
         CAST(FLOOR(l_extendedprice * 1000) AS BIGINT) AS file_size_in_bytes
  FROM lineitem
),
z AS (
  SELECT x, y, file_size_in_bytes,
         CAST({maintenance.morton_sql('x', 'y')} AS BIGINT) AS z
  FROM files
)
SELECT CAST(z // 1024 AS BIGINT) AS zbucket,
       CAST(count(*) AS BIGINT) AS file_count,
       CAST(sum(file_size_in_bytes) AS BIGINT) AS total_bytes,
       CAST(min(z) AS BIGINT) AS min_z,
       CAST(max(z) AS BIGINT) AS max_z,
       CAST(min(x) AS BIGINT) AS min_x,
       CAST(max(x) AS BIGINT) AS max_x,
       CAST(min(y) AS BIGINT) AS min_y,
       CAST(max(y) AS BIGINT) AS max_y
FROM z
GROUP BY zbucket
"""


def _diag_manifest_stats(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    manifests = o.select(
        (F.col("o_orderkey") % 3).cast("int").alias("partition_spec_id"),
        (F.col("o_orderkey") % 2).cast("int").alias("content"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("length"),
        (F.col("o_custkey") % 50).cast("int").alias("added_data_files_count"),
        (F.col("o_custkey") % 30).cast("int").alias("existing_data_files_count"),
        (F.col("o_custkey") % 7).cast("int").alias("deleted_data_files_count"),
    )
    return maintenance.manifest_stats(manifests)


_DIAG_MANIFEST_STATS_SQL = """
WITH manifests AS (
  SELECT CAST(o_orderkey % 3 AS INTEGER) AS partition_spec_id,
         CAST(o_orderkey % 2 AS INTEGER) AS content,
         CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS length,
         CAST(o_custkey % 50 AS INTEGER) AS added_data_files_count,
         CAST(o_custkey % 30 AS INTEGER) AS existing_data_files_count,
         CAST(o_custkey % 7 AS INTEGER) AS deleted_data_files_count
  FROM orders
)
SELECT partition_spec_id, content,
       CAST(count(*) AS BIGINT) AS n_manifests,
       CAST(sum(length) AS BIGINT) AS total_manifest_bytes,
       CAST(sum(added_data_files_count + existing_data_files_count) AS BIGINT) AS total_entries,
       CAST(sum(deleted_data_files_count) AS BIGINT) AS deleted_entries,
       CAST(sum(CASE WHEN length < 200000 THEN 1 ELSE 0 END) AS BIGINT) AS small_manifests,
       CAST(FLOOR(CAST(sum(added_data_files_count + existing_data_files_count) AS DOUBLE)
                  / count(*)) AS BIGINT) AS entries_per_manifest
FROM manifests
GROUP BY partition_spec_id, content
"""


# --------------------------------------------------------------------
# Sort-column advisor over file bounds, per-dimension embedding
# geometry, and the event Markov transition matrix.
# --------------------------------------------------------------------

def _diag_clustering_advisor(spark, sf_dir):
    return maintenance.clustering_advisor(
        file_column_stats_from_lineitem(_t(spark, sf_dir, "lineitem"))
    )


_DIAG_CLUSTERING_SQL = """
WITH per_file AS (
  SELECT CAST(floor(l_orderkey / 32) AS BIGINT) AS file_id,
         CAST(min(l_partkey) AS BIGINT) AS pk_lo, CAST(max(l_partkey) AS BIGINT) AS pk_hi,
         CAST(min(l_suppkey) AS BIGINT) AS sk_lo, CAST(max(l_suppkey) AS BIGINT) AS sk_hi,
         CAST(min(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS pc_lo,
         CAST(max(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS pc_hi,
         CAST(min(date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))) AS BIGINT) AS sd_lo,
         CAST(max(date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))) AS BIGINT) AS sd_hi
  FROM lineitem GROUP BY file_id
),
fs AS (
  SELECT 'l_partkey' AS col_name, file_id, pk_lo AS lo, pk_hi AS hi FROM per_file
  UNION ALL
  SELECT 'l_suppkey', file_id, sk_lo, sk_hi FROM per_file
  UNION ALL
  SELECT 'price_cents', file_id, pc_lo, pc_hi FROM per_file
  UNION ALL
  SELECT 'ship_day', file_id, sd_lo, sd_hi FROM per_file
),
ev AS (
  SELECT col_name, lo AS value, 0 AS typ, file_id FROM fs
  UNION ALL
  SELECT col_name, hi AS value, 1 AS typ, file_id FROM fs
),
swept AS (
  SELECT col_name, typ,
         COALESCE(SUM(typ) OVER w, 0) AS ends_lt,
         COALESCE(SUM(1 - typ) OVER w, 0) AS prev_starts
  FROM ev
  WINDOW w AS (PARTITION BY col_name ORDER BY value, typ, file_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
depths AS (
  SELECT col_name, prev_starts - ends_lt AS depth FROM swept WHERE typ = 0
)
SELECT col_name,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(depth) AS BIGINT) AS overlap_pairs,
       CAST(max(depth) + 1 AS BIGINT) AS max_depth,
       CAST(floor(1000000.0 * sum(depth + 1) / (count(*) * count(*))) AS BIGINT)
         AS avg_depth_ppm
FROM depths
GROUP BY col_name
"""


def _diag_skip_simulation(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # rows_per_file=128 ≈ the existing layout's rows per synthetic
    # file (32 orderkeys × ~4 line items), so before/after compare
    # layouts of similar file counts.
    return maintenance.skip_simulation(
        column_values_from_lineitem(li),
        file_column_stats_from_lineitem(li),
        rows_per_file=128,
    )


_DIAG_SKIP_SIM_SQL = """
WITH per_file AS (
  SELECT CAST(floor(l_orderkey / 32) AS BIGINT) AS file_id,
         CAST(min(l_partkey) AS BIGINT) AS pk_lo, CAST(max(l_partkey) AS BIGINT) AS pk_hi,
         CAST(min(l_suppkey) AS BIGINT) AS sk_lo, CAST(max(l_suppkey) AS BIGINT) AS sk_hi,
         CAST(min(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS pc_lo,
         CAST(max(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS pc_hi,
         CAST(min(date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))) AS BIGINT) AS sd_lo,
         CAST(max(date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))) AS BIGINT) AS sd_hi
  FROM lineitem GROUP BY file_id
),
fs AS (
  SELECT 'l_partkey' AS col_name, file_id, pk_lo AS lo, pk_hi AS hi FROM per_file
  UNION ALL SELECT 'l_suppkey', file_id, sk_lo, sk_hi FROM per_file
  UNION ALL SELECT 'price_cents', file_id, pc_lo, pc_hi FROM per_file
  UNION ALL SELECT 'ship_day', file_id, sd_lo, sd_hi FROM per_file
),
ev AS (
  SELECT col_name, lo AS value, 0 AS typ, file_id FROM fs
  UNION ALL
  SELECT col_name, hi AS value, 1 AS typ, file_id FROM fs
),
swept AS (
  SELECT col_name, typ,
         COALESCE(SUM(typ) OVER w, 0) AS ends_lt,
         COALESCE(SUM(1 - typ) OVER w, 0) AS prev_starts
  FROM ev
  WINDOW w AS (PARTITION BY col_name ORDER BY value, typ, file_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
before AS (
  SELECT col_name,
         CAST(sum(depth) AS BIGINT) AS overlap_pairs_before,
         CAST(max(depth) + 1 AS BIGINT) AS max_depth_before,
         CAST(floor(1000000.0 * sum(depth + 1) / (count(*) * count(*))) AS BIGINT)
           AS avg_depth_ppm_before
  FROM (SELECT col_name, prev_starts - ends_lt AS depth FROM swept WHERE typ = 0)
  GROUP BY col_name
),
cv AS (
  SELECT 'l_partkey' AS col_name, CAST(l_partkey AS BIGINT) AS v FROM lineitem
  UNION ALL SELECT 'l_suppkey', CAST(l_suppkey AS BIGINT) FROM lineitem
  UNION ALL SELECT 'price_cents', CAST(floor(l_extendedprice * 100) AS BIGINT) FROM lineitem
  UNION ALL SELECT 'ship_day', CAST(date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) FROM lineitem
),
vals AS (SELECT col_name, v, CAST(count(*) AS BIGINT) AS k FROM cv GROUP BY col_name, v),
ranked AS (
  SELECT col_name, k,
         1 + COALESCE(SUM(k) OVER (PARTITION BY col_name ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
  FROM vals
),
geom AS (
  SELECT col_name, k,
         CAST(floor((s - 1) / 128.0) AS BIGINT) AS f0,
         CAST(floor((s + 126) / 128.0) AS BIGINT) AS a,
         CAST(floor((s + k - 2) / 128.0) AS BIGINT) AS b
  FROM ranked
),
per_val AS (
  SELECT col_name, k, a - f0 AS ra, b - f0 AS rb, b >= a AS spans FROM geom
),
after AS (
  SELECT col_name,
         CAST(ceil(sum(k) / 128.0) AS BIGINT) AS n_files,
         -- (ra+rb)(rb-ra+1) is always even; // keeps each term
         -- integral (exact past 2^53, matching the Spark DIV 2)
         CAST(sum(CASE WHEN spans THEN (ra + rb) * (rb - ra + 1) // 2 ELSE 0 END) AS BIGINT)
           AS overlap_pairs_after,
         CAST(greatest(max(CASE WHEN spans THEN rb + 1 ELSE 1 END), 1) AS BIGINT)
           AS max_depth_after
  FROM per_val GROUP BY col_name
)
SELECT before.col_name,
       n_files,
       overlap_pairs_before,
       overlap_pairs_after,
       max_depth_before,
       max_depth_after,
       avg_depth_ppm_before,
       CAST(floor(1000000.0 * (overlap_pairs_after + n_files)
                  / (n_files * n_files)) AS BIGINT) AS avg_depth_ppm_after,
       CAST(CASE WHEN avg_depth_ppm_before > 0
            THEN floor(1000000.0
                 * floor(1000000.0 * (overlap_pairs_after + n_files)
                         / (n_files * n_files))
                 / avg_depth_ppm_before)
            ELSE 1000000 END AS BIGINT) AS improvement_ppm
FROM before JOIN after ON before.col_name = after.col_name
"""


def _diag_partition_advisor(spark, sf_dir):
    return maintenance.partition_advisor(
        column_values_from_lineitem(_t(spark, sf_dir, "lineitem"))
    )


_DIAG_PARTITION_ADVISOR_SQL = """
WITH cv AS (
  SELECT 'l_partkey' AS col_name, CAST(l_partkey AS BIGINT) AS v FROM lineitem
  UNION ALL SELECT 'l_suppkey', CAST(l_suppkey AS BIGINT) FROM lineitem
  UNION ALL SELECT 'price_cents', CAST(floor(l_extendedprice * 100) AS BIGINT) FROM lineitem
  UNION ALL SELECT 'ship_day', CAST(date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) FROM lineitem
),
assigned AS (
  SELECT col_name, 'bucket16' AS transform, ((v % 16) + 16) % 16 AS pk FROM cv
  UNION ALL
  SELECT col_name, 'truncate1024', CAST(floor(v / 1024.0) AS BIGINT) FROM cv
),
per_part AS (
  SELECT col_name, transform, pk, CAST(count(*) AS BIGINT) AS rows_
  FROM assigned GROUP BY col_name, transform, pk
)
SELECT col_name, transform,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(rows_) AS BIGINT) AS total_rows,
       CAST(max(rows_) AS BIGINT) AS max_part_rows,
       CAST(floor(sum(rows_) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS avg_part_rows,
       CAST(floor(1000000.0 * max(rows_) * count(*) / sum(rows_)) AS BIGINT) AS skew_ppm
FROM per_part
GROUP BY col_name, transform
"""


def _diag_file_skew(spark, sf_dir):
    files = files_from_lineitem(_t(spark, sf_dir, "lineitem"))
    return maintenance.file_skew_audit(files)


_DIAG_FILE_SKEW_SQL = f"""
WITH files AS ({FILES_CTE}),
g AS (
  SELECT partition_key,
         CAST(count(*) AS BIGINT) AS n_files,
         CAST(sum(file_size_in_bytes) AS BIGINT) AS total_bytes,
         CAST(min(file_size_in_bytes) AS BIGINT) AS min_bytes,
         CAST(max(file_size_in_bytes) AS BIGINT) AS max_bytes,
         CAST(sum(CAST(file_size_in_bytes AS HUGEINT) * file_size_in_bytes)
              AS HUGEINT) AS ss
  FROM files WHERE content = 0
  GROUP BY partition_key
)
SELECT partition_key, n_files, total_bytes, min_bytes, max_bytes,
       -- sqrt keeps dispersion inside int64 at any physical file
       -- size (the variance itself wraps past ~TiB); conversion +
       -- sqrt + divide are fixed-order correctly-rounded IEEE ops
       CAST(FLOOR(sqrt(CAST(n_files * ss
                            - CAST(total_bytes AS HUGEINT) * total_bytes
                            AS DOUBLE)) / n_files) AS BIGINT) AS stddev_bytes,
       CAST((1000000 * max_bytes) // total_bytes AS BIGINT) AS max_share_ppm
FROM g
"""


def _diag_bloom_advisor(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    vals = li.select(
        F.floor(F.col("l_orderkey") / 32).alias("file_id"),
        F.col("l_partkey").alias("v"),
    )
    return maintenance.bloom_advisor(vals)


_DIAG_BLOOM_SQL = """
WITH vals AS (
  SELECT CAST(floor(l_orderkey / 32) AS BIGINT) AS file_id,
         CAST(l_partkey AS BIGINT) AS v
  FROM lineitem
),
fstats AS (
  SELECT file_id, min(v) AS lo, max(v) AS hi FROM vals GROUP BY file_id
),
probes AS (SELECT DISTINCT v AS probe_key FROM vals WHERE v % 97 = 0),
mm AS (
  SELECT probe_key, CAST(count(*) AS BIGINT) AS minmax_files
  FROM fstats JOIN probes ON lo <= probe_key AND probe_key <= hi
  GROUP BY probe_key
),
act AS (
  SELECT probe_key, CAST(count(DISTINCT file_id) AS BIGINT) AS actual_files
  FROM vals JOIN probes ON v = probe_key
  GROUP BY probe_key
)
SELECT mm.probe_key, minmax_files, actual_files,
       CAST(minmax_files - actual_files AS BIGINT) AS wasted_files,
       CAST((1000000 * (minmax_files - actual_files)) // minmax_files
            AS BIGINT) AS wasted_ppm
FROM mm JOIN act ON mm.probe_key = act.probe_key
ORDER BY mm.probe_key
"""


# diag_compaction_apply: the executing compaction that closes the
# reference-core loop. The diagnostics SIMULATE the 750 MiB
# check-before-append remediation (operators/diagnostics.py); this
# entry EXECUTES that exact group plan against a real fragmented layout
# and re-derives the after-state from the written files.
#
# Oracle: the fragmented layout is a deterministic projection of
# lineitem (partition = l_returnflag, file = md5 bucket of the row key,
# logical size = floor(extendedprice*8), the files_from_lineitem
# scaling idiom), so every ledger column the engine MEASURES from disk
# (real post-write file counts via input_file_name, re-read rows and
# re-aggregated membership digests) is predictable in SQL: per-file
# sums feed the proven bin-pack boundary recursion
# (oracles_diag._binpack_cte), and a hash-green row certifies the
# physical rewrite (one file per planned group, no row lost, no
# partition touched that the plan left alone), not just the plan.

# Fragmentation of the before-layout: md5-bucket rows into this many
# files per partition. 192 keeps per-file logical sizes under the
# 750 MiB cap at every driver scale factor (sf0.1's largest
# partition ≈ 92 GB logical → ~480 MB files), so the pack plan stays
# non-degenerate (multiple files per group) from sf0.001 to sf0.1.
COMPACTION_FRAG_FILES = 192

_COMPACTION_READ_SCHEMA = (
    "row_key string, row_bytes long, file_id long, partition_key string"
)

_ROW_KEY_SQL = (
    "CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)"
)

_COMPACTION_SQL = f"""
WITH RECURSIVE rws AS MATERIALIZED (
  SELECT l_returnflag AS partition_key,
         ('0x' || substring(md5({_ROW_KEY_SQL}), 1, 8))::BIGINT
           % {COMPACTION_FRAG_FILES} AS file_id,
         {_ROW_KEY_SQL} AS row_key,
         CAST(FLOOR(l_extendedprice * 8) AS BIGINT) AS row_bytes
  FROM lineitem
),
per_file AS MATERIALIZED (
  SELECT partition_key, file_id,
         count(*) AS n_rows, sum(row_bytes) AS fsz
  FROM rws GROUP BY partition_key, file_id
),
files AS (
  SELECT partition_key, fsz AS file_size_in_bytes, 0 AS content
  FROM per_file
),
{_binpack_cte(["partition_key"])},
planp AS (
  SELECT partition_key,
         count(*) AS groups_planned,
         sum(gsz // 33554432 + 2) AS overhead_planned
  FROM grp GROUP BY partition_key
),
befp AS (
  SELECT partition_key,
         count(*) AS files_before,
         sum(n_rows) AS rows_before,
         sum(fsz) AS size_before,
         sum(fsz // 33554432 + 2) AS overhead_before
  FROM per_file GROUP BY partition_key
),
dig AS (
  SELECT partition_key,
         bit_xor(('0x' || substring(md5(row_key), 1, 15))::BIGINT) AS mx1,
         bit_xor(('0x' || substring(md5('m2|' || row_key), 1, 15))::BIGINT)
           AS mx2
  FROM rws GROUP BY partition_key
)
SELECT b.partition_key,
       CAST(b.files_before AS BIGINT) AS files_before,
       CAST(b.rows_before AS BIGINT) AS rows_before,
       CAST(b.size_before AS BIGINT) AS size_before,
       CAST(b.overhead_before AS BIGINT) AS scan_overhead_before,
       CAST(p.groups_planned AS BIGINT) AS groups_planned,
       CAST(p.overhead_planned AS BIGINT) AS scan_overhead_planned,
       (p.groups_planned < b.files_before) AS compacted,
       CAST(CASE WHEN p.groups_planned < b.files_before
                 THEN p.groups_planned ELSE b.files_before END
            AS BIGINT) AS files_after,
       CAST(b.rows_before AS BIGINT) AS rows_after,
       CAST(b.size_before AS BIGINT) AS size_after,
       CAST(CASE WHEN p.groups_planned < b.files_before
                 THEN p.overhead_planned ELSE b.overhead_before END
            AS BIGINT) AS scan_overhead_after,
       d.mx1 AS members_xor_after,
       d.mx2 AS members_xor2_after
FROM befp b
JOIN planp p USING (partition_key)
JOIN dig d USING (partition_key)
ORDER BY partition_key
"""


def compaction_rows(spark, sf_dir):
    """The deterministic fragmented-layout projection of lineitem:
    (partition_key, file_id, row_key, row_bytes)."""
    from iceberg_diag_spark.operators.sampling import hash_bucket

    li = _t(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    return li.select(
        F.col("l_returnflag").alias("partition_key"),
        hash_bucket(key, COMPACTION_FRAG_FILES).cast("long").alias("file_id"),
        key.alias("row_key"),
        (F.col("l_extendedprice") * 8).cast("long").alias("row_bytes"),
    )


def _diag_compaction_apply(spark, sf_dir):
    """Write the fragmented layout (one real parquet file per
    (partition, file_id) — the repartition-on-the-leaf-key write
    discipline), EXECUTE the bin-pack compaction against it, and
    return the per-partition predicted-vs-measured ledger. Temp dir
    removed after the result checkpoint (the ivf_probe_topk
    try/finally discipline)."""
    import shutil
    import tempfile

    from iceberg_diag_spark.operators.compaction import (
        compact_apply_binpack,
    )

    rows = compaction_rows(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="compaction_apply_")
    try:
        (
            rows.repartition(32, "partition_key", "file_id")
            .sortWithinPartitions("partition_key", "file_id", "row_key")
            .write.mode("overwrite")
            .partitionBy("partition_key", "file_id")
            .parquet(tmp)
        )
        out = materialize(compact_apply_binpack(
            spark,
            tmp,
            read_schema=_COMPACTION_READ_SCHEMA,
            row_size=F.col("row_bytes"),
            key=F.col("row_key"),
            order_cols=("row_key",),
        ), eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# --------------------------------------------------------------------
# diag_clustering_apply — the sort-order twin of the compaction sink:
# clustering_advisor names the column, diag_skip_simulation prices the
# rewrite; this entry EXECUTES exactly the layout the simulation
# models (global value order, fixed rows per file) and measures the
# skipping stats from the written files' min/max bounds.
# --------------------------------------------------------------------

# Arrival-order fragmentation of the before-layout (orderkey chunks —
# the file_column_stats_from_lineitem idiom, coarsened so the layout
# stays a few hundred physical files at sf0.1).
CLUSTER_FRAG_ORDERKEYS = 1024
# Post-rewrite chunking: the simulation's rows-per-file model IS the
# written layout, so prediction and measurement share one parameter.
CLUSTER_ROWS_PER_FILE = 4096

_CLUSTER_READ_SCHEMA = "row_key string, v long, file_id long"

_SWEEP_SQL = """
  SELECT CAST(count(*) AS BIGINT) AS n_files,
         CAST(sum(depth) AS BIGINT) AS op,
         CAST(max(depth) + 1 AS BIGINT) AS md,
         CAST(floor(1000000.0 * sum(depth + 1) / (count(*) * count(*)))
              AS BIGINT) AS ad
  FROM (
    SELECT prev_starts - ends_lt AS depth
    FROM (
      SELECT typ,
             COALESCE(SUM(typ) OVER w, 0) AS ends_lt,
             COALESCE(SUM(1 - typ) OVER w, 0) AS prev_starts
      FROM (
        SELECT lo AS value, 0 AS typ, file_id FROM {bounds}
        UNION ALL
        SELECT hi, 1, file_id FROM {bounds}
      )
      WINDOW w AS (ORDER BY value, typ, file_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ) WHERE typ = 0
  )
"""

_CLUSTERING_APPLY_SQL = f"""
WITH rws AS MATERIALIZED (
  SELECT {_ROW_KEY_SQL} AS row_key,
         CAST(date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
              AS BIGINT) AS v,
         CAST(l_orderkey // {CLUSTER_FRAG_ORDERKEYS} AS BIGINT) AS file_id
  FROM lineitem
),
bbnd AS MATERIALIZED (
  SELECT file_id, min(v) AS lo, max(v) AS hi FROM rws GROUP BY file_id
),
abnd AS MATERIALIZED (
  SELECT (r - 1) // {CLUSTER_ROWS_PER_FILE} AS file_id,
         min(v) AS lo, max(v) AS hi
  FROM (SELECT v, row_number() OVER (ORDER BY v, row_key) AS r FROM rws)
  GROUP BY 1
),
bef AS ({_SWEEP_SQL.format(bounds="bbnd")}),
aft AS ({_SWEEP_SQL.format(bounds="abnd")}),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         bit_xor(('0x' || substring(md5(row_key), 1, 15))::BIGINT) AS mx1,
         bit_xor(('0x' || substring(md5('m2|' || row_key), 1, 15))::BIGINT)
           AS mx2
  FROM rws
)
SELECT bef.n_files AS files_before,
       tot.n_rows AS rows_before,
       bef.op AS overlap_pairs_before,
       bef.md AS max_depth_before,
       bef.ad AS avg_depth_ppm_before,
       aft.n_files AS files_planned,
       aft.op AS overlap_pairs_planned,
       aft.md AS max_depth_planned,
       aft.ad AS avg_depth_ppm_planned,
       aft.n_files AS files_after,
       tot.n_rows AS rows_after,
       aft.op AS overlap_pairs_after,
       aft.md AS max_depth_after,
       aft.ad AS avg_depth_ppm_after,
       tot.mx1 AS members_xor_after,
       tot.mx2 AS members_xor2_after
FROM bef, aft, tot
"""


def cluster_rows(spark, sf_dir):
    """The deterministic arrival-order layout projection of lineitem:
    (row_key, v = ship_day, file_id = orderkey chunk)."""
    li = _t(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    return li.select(
        key.alias("row_key"),
        F.datediff(
            F.col("l_shipdate").cast("date"),
            F.lit("1992-01-01").cast("date"),
        )
        .cast("long")
        .alias("v"),
        F.floor(F.col("l_orderkey") / CLUSTER_FRAG_ORDERKEYS)
        .cast("long")
        .alias("file_id"),
    )


def _diag_clustering_apply(spark, sf_dir):
    """Write the arrival-order layout (one real parquet file per
    orderkey chunk), EXECUTE the sorted rewrite the skip simulation
    models, and return the one-row predicted-vs-measured skipping
    ledger. Temp dir removed after the result checkpoint."""
    import shutil
    import tempfile

    from iceberg_diag_spark.operators.compaction import (
        cluster_apply_sorted,
    )

    rows = cluster_rows(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="clustering_apply_")
    try:
        (
            rows.repartition(32, "file_id")
            .sortWithinPartitions("file_id", "v", "row_key")
            .write.mode("overwrite")
            .partitionBy("file_id")
            .parquet(tmp)
        )
        out = materialize(cluster_apply_sorted(
            spark,
            tmp,
            read_schema=_CLUSTER_READ_SCHEMA,
            value_col="v",
            key_col="row_key",
            rows_per_file=CLUSTER_ROWS_PER_FILE,
        ), eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


REGISTRY.update({
    "diag_delete_impact": QuerySpec(
        _diag_delete_impact, _DIAG_DELETE_IMPACT_SQL,
        "per-partition delete-file burden (position/equality split, "
        "deletes-per-data ppm, merge-rewrite read cost) — the "
        "rewrite-deletes remediation signal",
    ),
    "diag_orphan_files": QuerySpec(
        _diag_orphan_files, _DIAG_ORPHAN_SQL,
        "orphan-file detection: storage listing anti metadata "
        "references via one left join on unique file_path, per-"
        "partition reclaimable bytes",
    ),
    "diag_snapshot_retention": QuerySpec(
        _diag_snapshot_retention, _DIAG_RETENTION_SQL,
        "expire-snapshots simulation: retention-cutoff scalar "
        "broadcast back, per-partition reclaimable delete bytes and "
        "expired snapshot months",
    ),
    "diag_zorder_layout": QuerySpec(
        _diag_zorder_layout, _DIAG_ZORDER_SQL,
        "z-order rewrite planning: Morton-interleave clustering key "
        "(pure shift/mask codegen), per-bucket file stats and "
        "dimension spans",
    ),
    "diag_manifest_stats": QuerySpec(
        _diag_manifest_stats, _DIAG_MANIFEST_STATS_SQL,
        "manifest-layer diagnostics (rewrite_manifests signal): per "
        "(spec, content) manifest count/bytes/entry density + small-"
        "manifest count over the .manifests schema",
    ),
    "diag_skip_simulation": QuerySpec(
        _diag_skip_simulation, _DIAG_SKIP_SIM_SQL,
        "sort-order rewrite simulator: exact before/after point-query "
        "depth and overlapping-pair stats per candidate column, the "
        "after-layout computed in closed form from per-value rank "
        "arithmetic (sharded prefix sums — the sorted layout is "
        "never materialized); improvement_ppm in the reference's "
        "before/after remediation idiom",
    ),
    "diag_partition_advisor": QuerySpec(
        _diag_partition_advisor, _DIAG_PARTITION_ADVISOR_SQL,
        "partition-spec advisor: simulated bucket/truncate transform "
        "per candidate column with partition-count and row-balance "
        "(skew_ppm) stats — the partition-evolution companion of the "
        "sort-column advisor",
    ),
    "diag_clustering_advisor": QuerySpec(
        _diag_clustering_advisor, _DIAG_CLUSTERING_SQL,
        "sort-column advisor: exact overlapping-file-pair and point-"
        "query-depth stats per candidate column via an O(n log n) "
        "endpoint sweep over file min/max bounds (no pairwise join) "
        "— ranks which column a sort-order rewrite should target",
    ),
    "diag_file_skew": QuerySpec(
        _diag_file_skew, _DIAG_FILE_SKEW_SQL,
        "per-partition file-size dispersion: exact 128-bit variance "
        "+ largest-file byte share in ppm (straggler/tiny-file "
        "layout audit)",
    ),
    "diag_bloom_advisor": QuerySpec(
        _diag_bloom_advisor, _DIAG_BLOOM_SQL,
        "bloom-filter benefit simulator: per probed key, files "
        "admitted by min/max bounds vs files truly containing it — "
        "the exact point-lookup I/O a bloom file-skip would save on "
        "the current layout; broadcast probe panel, membership via "
        "pushdown equi-semi-join",
    ),
    "diag_clustering_apply": QuerySpec(
        _diag_clustering_apply, _CLUSTERING_APPLY_SQL,
        "advisor-EXECUTING pattern #11 — the sort-order twin of "
        "diag_compaction_apply: clustering_advisor names the column, "
        "diag_skip_simulation prices the rewrite with a closed form; "
        "this entry EXECUTES exactly the layout that form models "
        "(global ship-day order via distributed ranking — "
        "grouped_prefix_sum + per-value row_number, no single-task "
        "window — chunked rows_per_file per physical file, dynamic "
        "partition overwrite + stale-leaf drop) against a real "
        "arrival-order fragmented parquet layout, then MEASURES the "
        "skipping stats from the written files' min/max bounds with "
        "the same endpoint sweep the advisor uses: a hash-green row "
        "certifies predicted-after == measured-after overlap "
        "pairs/max depth/avg depth (and that rows and membership "
        "digests survived the rewrite), not just the simulation",
    ),
    "diag_compaction_apply": QuerySpec(
        _diag_compaction_apply, _COMPACTION_SQL,
        "advisor-EXECUTING pattern #10 — run the reference's own "
        "remediation instead of only pricing it: fragment lineitem "
        "into a real one-file-per-(partition, file_id) parquet "
        "layout, bin-pack the per-file sizes with the EXACT 750 MiB "
        "check-before-append fold the diagnostics simulate "
        "(binpack.py pack_sizes semantics, (size, file_id) "
        "tie-break), rewrite each partition one-physical-file-per-"
        "group (partitions whose plan shows no reduction stay "
        "byte-untouched — surgical, the retraction discipline), and "
        "re-derive the after-state FROM THE WRITTEN FILES: "
        "files_after counts real post-write files, rows/bytes/"
        "membership-digests are re-aggregated from the rewritten "
        "bytes, so the hash-green row certifies predicted-after == "
        "measured-after, not just the plan",
    ),
})
