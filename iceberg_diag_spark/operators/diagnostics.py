"""Iceberg table-diagnostics metrics as a Spark DataFrame pipeline.

Re-expresses the reference aggregation engine
(``icebergdiag/metrics/table_metrics.py:46-155``) Spark-first:

  files ──one grouped aggregate per partition, all JVM-side──►
         BEFORE sums + collect_list of DATA sizes, folded by a
         fixed-size higher-order bin-pack → AFTER stats  (A1, A8/A9)
  ──single agg──► all 9 global metrics                   (A2-A7, A10)
  one stack() unpivot ──► 9-row metric table with improvement (A11)

Scale notes (100 TB):
- The input relation is Iceberg *metadata* (one row per data file):
  even a 100 TB table is ~1e6-1e8 rows — comfortably shuffle-able.
- No Python on this path: the sequential bin-pack fold (see
  binpack.py) is an ``aggregate`` over the sorted sizes inside the
  per-partition aggregate, so no file row crosses into a Python
  worker. Memory is bounded by one partition's DATA sizes as one
  array of longs; past its key threshold the ObjectHashAggregate
  falls back to sort-based aggregation.
- The final global agg is a single reduce — no driver-side loops.

Driver side: every stage is SQL text assembled once, at import
(``_BEFORE_SQL``, ``_PACK_SQL``, ``_PER_PART_AGG_SQL``,
``_UNPIVOT_SQL``, ``_IMPROVEMENT_SQL``), so each stage costs one
``selectExpr`` or ``agg`` call instead of several py4j round trips per
Column call.

Metric semantics pinned by tests/test_diagnostics_golden.py, derived
from the reference unit test (tests/test_metric_calculator.py:46-91).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from iceberg_diag_spark.functions.cost import (
    CONTENT_DATA,
    MAX_GROUP_BYTE_SIZE,
    MILLISECONDS_PER_SCAN,
    READ_COST_SQL,
    SCAN_OVERHEAD_SQL,
)

# The column the operators below read.
TABLE_NAME = "table_name"

# Display order + reference display names (table_metric.py:9-18).
METRICS = [
    ("FULL_SCAN_OVERHEAD", "Full Scan Overhead"),
    ("WORST_SCAN_OVERHEAD", "Worst Partition Scan Overhead"),
    ("FILE_COUNT", "Total File Count"),
    ("WORST_FILE_COUNT", "Worst Partition File Count"),
    ("AVG_FILE_SIZE", "Avg Data File Size"),
    ("WORST_AVG_FILE_SIZE", "Worst Partition Avg Data File Size"),
    ("TOTAL_TABLE_SIZE", "Total Table Size"),
    ("LARGEST_PARTITION_SIZE", "Largest Partition Size"),
    ("TOTAL_PARTITIONS", "Total Partitions"),
]


# Per-partition BEFORE aggregate (A1/A3, table_metrics.py:56-74) as SQL
# text over the {size} and {content} columns: counts, sizes and
# overhead include ALL content kinds; data_* are DATA-only, where DATA
# is ``content = 0`` and a NULL content is not DATA.
_IS_DATA_SQL = f"coalesce({{content}} = {CONTENT_DATA}, false)"
_DATA_SIZE_SQL = f"CASE WHEN {_IS_DATA_SQL} THEN CAST({{size}} AS BIGINT) END"
_BEFORE_SQL = (
    "count(*) AS file_count",
    "sum({size}) AS total_size",
    f"sum({SCAN_OVERHEAD_SQL}) AS scan_overhead",
    f"sum(CASE WHEN {_IS_DATA_SQL} THEN 1 ELSE 0 END) AS data_file_count",
    f"coalesce(sum({_DATA_SIZE_SQL}), 0) AS data_size",
)
_BEFORE_COLS = [s.rpartition(" AS ")[2] for s in _BEFORE_SQL]

# Simulated compaction (A8/A9, table_metrics.py:136-141,179-197): the
# check-before-append bin-pack of a partition's ascending DATA sizes
# as one higher-order fold in the aggregate's result. The accumulator
# is (g closed groups, t bytes of the open group, c read cost of the
# closed groups); a group closes only when its running total already
# EXCEEDS the cap, before the next file joins it. ``__open`` is false
# for a delete-only partition, which packs an empty list: 0 groups.
_PACK_SQL = (
    f"aggregate(sort_array(collect_list({_DATA_SIZE_SQL})),"
    " named_struct('g', 0L, 't', 0L, 'c', 0L),"
    f" (a, s) -> IF(a.t > {MAX_GROUP_BYTE_SIZE},"
    f" named_struct('g', a.g + 1, 't', s, 'c', a.c + {READ_COST_SQL.format(size='a.t')}),"
    " named_struct('g', a.g, 't', a.t + s, 'c', a.c))) AS __pack",
    f"count({_DATA_SIZE_SQL}) > 0 AS __open",
)
# The projection that adds the open group.
_AFTER_SQL = (
    "__pack.g + IF(__open, 1, 0) AS after_file_count",
    f"(__pack.c + IF(__open, {READ_COST_SQL.format(size='__pack.t')}, 0))"
    f" * {MILLISECONDS_PER_SCAN} AS after_scan_overhead",
)


def _before_exprs(size_col: str, content_col: str, *extra: str) -> list:
    """``_BEFORE_SQL`` and then ``extra`` over the named columns."""
    return [
        F.expr(s.format(size=f"`{size_col}`", content=f"`{content_col}`"))
        for s in _BEFORE_SQL + extra
    ]


def partition_stats(files: DataFrame) -> DataFrame:
    """Per-partition BEFORE aggregates — one shuffle, map-side combine.

    Columns out: partition_key, file_count, total_size, scan_overhead,
    data_file_count, data_size (``_BEFORE_SQL``).
    """
    return files.groupBy("partition_key").agg(
        *_before_exprs("file_size_in_bytes", "content")
    )


def partition_stats_with_after(
    files: DataFrame,
    table_col: str | None = None,
) -> DataFrame:
    """BEFORE stats fused with simulated-compaction AFTER stats.

    AFTER per partition (table_metrics.py:136-141): bin-pack DATA file
    sizes; after_file_count = number of groups; after_scan_overhead =
    sum over groups of read_cost(group_total) * 1ms. Partitions whose
    files are all deletes get 0 groups (reference packs an empty list).

    Plan shape: ONE scan → one grouped aggregate on the group key (one
    hash exchange; ``collect_list`` makes it an ObjectHashAggregate) →
    one projection, all JVM-side. The aggregate computes the BEFORE
    sums (``_BEFORE_SQL``) and ``collect_list`` of the DATA sizes; its
    result sorts that list and folds it (``_PACK_SQL``), and the
    projection adds the open group (``_AFTER_SQL``). NULL keys form
    one group, as in groupBy; empty input gives no rows.

    Memory: one partition's DATA sizes are held as one array of longs
    (8 bytes per file) in the final aggregate; past its key threshold
    the ObjectHashAggregate falls back to sort-based aggregation
    instead of growing its hash map.

    Output: one row per partition — (partition_key, file_count,
    total_size, scan_overhead, data_file_count, data_size,
    after_file_count, after_scan_overhead), keys cast to string. With
    table_col set, the group key is (table, partition) and the table
    column is carried through — the multi-table single-job path
    (SURVEY §2 X1: the reference fans a thread pool across tables;
    here every table's metadata is one unioned relation and Spark
    schedules all tables' partitions as one job).
    """
    group_cols = ([table_col] if table_col else []) + ["partition_key"]
    return files.groupBy(*group_cols).agg(
        *_before_exprs("file_size_in_bytes", "content", *_PACK_SQL)
    ).selectExpr(
        *(f"CAST(`{c}` AS STRING) AS `{c}`" for c in group_cols),
        *_BEFORE_COLS,
        *_AFTER_SQL,
    )


# Second-level aggregate over the per-partition rows, as SQL text.
_FC_RED = "file_count - after_file_count"
_OH_RED = "scan_overhead - after_scan_overhead"
_PER_PART_AGG_SQL = (
    "coalesce(sum(file_count), 0) AS file_count",
    "coalesce(sum(total_size), 0) AS total_size",
    "coalesce(sum(scan_overhead), 0) AS scan_overhead_sum",
    "coalesce(sum(data_file_count), 0) AS data_file_count",
    "coalesce(sum(data_size), 0) AS data_size",
    "count(*) AS total_partitions",
    # worst = min per-partition average over ALL files (deletes
    # included — PartitionMetrics.average_file_size, :32-34).
    "coalesce(min(total_size / file_count), 0.0D) AS worst_avg_file_size",
    "coalesce(max(total_size), 0) AS largest_partition_size",
    "coalesce(sum(after_file_count), 0) AS after_file_count",
    "coalesce(sum(after_scan_overhead), 0) AS after_full_scan_overhead",
    f"max(CASE WHEN {_FC_RED} > 0 THEN struct({_FC_RED} AS red,"
    " file_count AS before, after_file_count AS after) END) AS worst_fc",
    f"max(CASE WHEN {_OH_RED} > 0 THEN struct({_OH_RED} AS red,"
    " scan_overhead AS before, after_scan_overhead AS after) END) AS worst_oh",
)


def _aggregate_per_part(per_part: DataFrame, group_cols: list[str]) -> DataFrame:
    """Second-level aggregation over per-partition rows (A2-A7 + the
    A10 argmax), optionally grouped by table for the multi-table
    single-job path: one ``selectExpr`` (a global aggregate) or one
    grouped ``agg`` of ``_PER_PART_AGG_SQL``. The manifest term of
    FULL_SCAN_OVERHEAD is added by the caller (it is per-table
    external state, not derivable from the files relation).

    Argmax by reduction (A10, table_metrics.py:134-153): track the
    partition with max (before - after) reduction; only reductions
    strictly > 0 qualify (initial max is 0). max() over a struct
    orders lexicographically — reduction first — so one aggregate
    replaces the reference's sequential scan. Ties: the reference
    takes first-seen (dict order); we break by larger before value,
    deterministic under any partitioning.
    """
    if not group_cols:
        return per_part.selectExpr(*_PER_PART_AGG_SQL)
    return per_part.groupBy(*group_cols).agg(*map(F.expr, _PER_PART_AGG_SQL))


# (before, after) SQL over the aggregated stats, in METRICS order.
# Metrics without a local-mode "after" (table_metric.py:86-96) carry
# NULL after → NULL improvement.
_METRIC_SQL = {
    "FULL_SCAN_OVERHEAD": ("full_scan_overhead", "after_full_scan_overhead"),
    "WORST_SCAN_OVERHEAD": (
        "coalesce(worst_oh.before, 0)",
        "coalesce(worst_oh.after, 0)",
    ),
    "FILE_COUNT": ("file_count", "after_file_count"),
    "WORST_FILE_COUNT": (
        "coalesce(worst_fc.before, 0)",
        "coalesce(worst_fc.after, 0)",
    ),
    "AVG_FILE_SIZE": (
        "CASE WHEN data_file_count > 0"
        " THEN data_size / data_file_count ELSE 0D END",
        "NULL",
    ),
    "WORST_AVG_FILE_SIZE": ("worst_avg_file_size", "NULL"),
    "TOTAL_TABLE_SIZE": ("total_size", "NULL"),
    "LARGEST_PARTITION_SIZE": ("largest_partition_size", "NULL"),
    "TOTAL_PARTITIONS": ("total_partitions", "NULL"),
}

_UNPIVOT_SQL = "stack({}, {}) AS (metric, ordinal, before, after)".format(
    len(METRICS),
    ", ".join(
        f"'{key}', {i}, CAST({_METRIC_SQL[key][0]} AS DOUBLE),"
        f" CAST({_METRIC_SQL[key][1]} AS DOUBLE)"
        for i, (key, _display) in enumerate(METRICS)
    ),
)

# Improvement (A11, table_metric.py:67-70): (1 - after/before)*100;
# 0 when both are 0; +inf when before is 0 but after isn't; NULL when
# there is no after value.
_IMPROVEMENT_SQL = """CASE
    WHEN after IS NULL THEN NULL
    WHEN before = 0 AND after = 0 THEN 0D
    WHEN before = 0 THEN double('Infinity')
    ELSE (1D - after / before) * 100D
END AS improvement"""


def _nine_metric_rows(g: DataFrame, key_cols: list[str]) -> DataFrame:
    """Unpivot the aggregated stats (with full_scan_overhead already
    including the manifest term) into the 9-row metric layout, with
    improvement (A11). key_cols pass through (empty for single-table,
    ["table_name"] for the multi-table job)."""
    keys = [f"`{c}`" for c in key_cols]
    return (
        g.selectExpr(*keys, _UNPIVOT_SQL)
        .selectExpr("*", _IMPROVEMENT_SQL)
        .orderBy(*key_cols, "ordinal")
    )


def table_metrics(files: DataFrame, manifest_files_count: int = 0) -> DataFrame:
    """The flagship diagnostics query: 9 metrics with before / after /
    improvement, exactly matching the reference's local mode.

    Output: (metric string, ordinal int, before double, after double
    nullable, improvement double nullable) — 9 rows.
    """
    per_part = partition_stats_with_after(files)
    g = _aggregate_per_part(per_part, []).selectExpr(
        "*",
        "scan_overhead_sum + {} AS full_scan_overhead".format(
            manifest_files_count * MILLISECONDS_PER_SCAN
        ),
    )
    return _nine_metric_rows(g, [])


def multi_table_metrics(
    files: DataFrame,
    manifest_counts: DataFrame,
) -> DataFrame:
    """ALL tables' diagnostics in ONE Spark job (SURVEY §2 X1 as a
    unioned job instead of the reference's 10-thread pool): `files`
    carries a table_name column (union of every table's `.files`
    relation), `manifest_counts` is the small (table_name,
    manifest_count) side — broadcast, since it is one row per table.

    Output: 9 metric rows per table, keyed by table_name. Scale
    shape: one exchange on (table, partition) feeds the fused
    stats+pack pass, one tiny per-table aggregate follows — 1000
    tables schedule as ordinary partitions of one job, not 1000
    sequential jobs.
    """
    per_part = partition_stats_with_after(files, table_col=TABLE_NAME)
    g = (
        _aggregate_per_part(per_part, [TABLE_NAME])
        .join(F.broadcast(manifest_counts), TABLE_NAME, "left")
        .selectExpr(
            "*",
            "scan_overhead_sum + coalesce(manifest_count, 0)"
            f" * {MILLISECONDS_PER_SCAN} AS full_scan_overhead",
        )
    )
    return _nine_metric_rows(g, [TABLE_NAME])
