"""Iceberg table-diagnostics metrics as a Spark DataFrame pipeline.

Re-expresses the reference aggregation engine
(``icebergdiag/metrics/table_metrics.py:46-155``) Spark-first:

  files ──hash repartition by partition, sort by (partition, size)──►
         mapInArrow fold: BEFORE stats + bin-pack + AFTER stats,
         one row per partition                           (A1, A8/A9)
  ──single agg──► all 9 global metrics                   (A2-A7, A10)
  one stack() unpivot ──► 9-row metric table with improvement (A11)

Scale notes (100 TB):
- The input relation is Iceberg *metadata* (one row per data file):
  even a 100 TB table is ~1e6-1e8 rows — comfortably shuffle-able.
- The fold makes one Python call per Arrow batch, not per partition
  value: each call folds every partition in its batch with numpy and
  emits one aggregated row per partition, never file lists. Python
  memory is bounded by one partition's rows plus one batch.
- The final global agg is a single reduce — no driver-side loops, no
  collect_list of sizes.
- The only Python is the sequential bin-pack fold (see binpack.py).

Metric semantics pinned by tests/test_diagnostics_golden.py, derived
from the reference unit test (tests/test_metric_calculator.py:46-91).
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from iceberg_diag_spark.functions.cost import (
    CONTENT_DATA,
    FETCH_SIZE,
    MAX_GROUP_BYTE_SIZE,
    MILLISECONDS_PER_SCAN,
    scan_overhead_ms,
)
from iceberg_diag_spark.functions.parallel import fold_by_key
from iceberg_diag_spark.operators.binpack import pack_segment_stats

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


def partition_stats(
    files: DataFrame,
    partition_col: str = "partition_key",
    size_col: str = "file_size_in_bytes",
    content_col: str = "content",
) -> DataFrame:
    """Per-partition BEFORE aggregates — one shuffle, map-side combine.

    Columns out: partition_key, file_count, total_size, scan_overhead,
    data_file_count, data_size. Matches the reference single-pass
    accumulator (table_metrics.py:56-74): counts/sizes/overhead include
    ALL content kinds; data_* are DATA-only (content == 0).
    """
    size = F.col(size_col)
    is_data = F.col(content_col) == CONTENT_DATA
    return files.groupBy(F.col(partition_col).alias("partition_key")).agg(
        F.count("*").alias("file_count"),
        F.sum(size).alias("total_size"),
        F.sum(scan_overhead_ms(size)).alias("scan_overhead"),
        F.sum(F.when(is_data, 1).otherwise(0)).alias("data_file_count"),
        F.coalesce(F.sum(F.when(is_data, size)), F.lit(0)).alias("data_size"),
    )


def _fold_keys(
    batch: pa.RecordBatch, starts: np.ndarray, n_keys: int, schema: pa.Schema
) -> pa.RecordBatch:
    """One output row per key of a batch holding only COMPLETE keys,
    sorted by (keys, size): numpy segment sums for the BEFORE stats and
    one segmented bin-pack pass over the DATA rows for the AFTER stats."""
    n = batch.num_rows
    keys = batch.columns[:n_keys]
    sizes = batch.column(n_keys).to_numpy().astype("int64", copy=False)
    is_data = pc.fill_null(
        pc.equal(batch.column(n_keys + 1), CONTENT_DATA), False
    ).to_numpy(zero_copy_only=False)

    def seg_sum(x):
        return np.add.reduceat(x, starts)

    data_file_count = seg_sum(is_data.astype("int64"))
    groups, cost = pack_segment_stats(
        sizes[is_data], data_file_count, MAX_GROUP_BYTE_SIZE
    )
    return pa.RecordBatch.from_arrays(
        [k.take(starts).cast(pa.string()) for k in keys]
        + [
            np.diff(starts, append=n),
            seg_sum(sizes),
            seg_sum(sizes // FETCH_SIZE + 2) * MILLISECONDS_PER_SCAN,
            data_file_count,
            seg_sum(np.where(is_data, sizes, 0)),
            groups,
            cost * MILLISECONDS_PER_SCAN,
        ],
        schema=schema,
    )


_STAT_COLS = [
    "file_count",
    "total_size",
    "scan_overhead",
    "data_file_count",
    "data_size",
    "after_file_count",
    "after_scan_overhead",
]


def partition_stats_with_after(
    files: DataFrame,
    partition_col: str = "partition_key",
    size_col: str = "file_size_in_bytes",
    content_col: str = "content",
    table_col: str | None = None,
) -> DataFrame:
    """BEFORE stats fused with simulated-compaction AFTER stats.

    AFTER per partition (table_metrics.py:136-141): bin-pack DATA file
    sizes; after_file_count = number of groups; after_scan_overhead =
    sum over groups of read_cost(group_total) * 1ms. Partitions whose
    files are all deletes get 0 groups (reference packs an empty list).

    Plan shape: ONE scan → ``parallel.fold_by_key`` on the group key,
    sorted by size (one hash exchange, a sort, one ``mapInArrow``).
    Each Python call folds EVERY key of its Arrow batch at once:
    ``np.add.reduceat`` for the BEFORE aggregates and one
    ``binpack.pack_segment_stats`` pass for the AFTER columns. NULL
    keys form one group, as in groupBy; empty input gives no rows.

    Output: one row per partition — (partition_key, file_count,
    total_size, scan_overhead, data_file_count, data_size,
    after_file_count, after_scan_overhead). With table_col set, the
    group key is (table, partition) and the table column is carried
    through — the multi-table single-job path (SURVEY §2 X1: the
    reference fans a thread pool across tables; here every table's
    metadata is one unioned relation and Spark schedules all tables'
    partitions as one job).
    """
    group_cols = ([table_col] if table_col else []) + [partition_col]
    n_keys = len(group_cols)
    out_schema = pa.schema(
        [(c, pa.string()) for c in group_cols[:-1] + ["partition_key"]]
        + [(c, pa.int64()) for c in _STAT_COLS]
    )
    cols = files.select(*group_cols, size_col, content_col)
    fold = partial(_fold_keys, n_keys=n_keys, schema=out_schema)
    return fold_by_key(cols, group_cols, [size_col], fold, out_schema)


def _aggregate_per_part(per_part: DataFrame, group_cols: list[str]) -> DataFrame:
    """Second-level aggregation over per-partition rows (A2-A7 + the
    A10 argmax), optionally grouped by table for the multi-table
    single-job path. The manifest term of FULL_SCAN_OVERHEAD is added
    by the caller (it is per-table external state, not derivable from
    the files relation).

    Argmax by reduction (A10, table_metrics.py:134-153): track the
    partition with max (before - after) reduction; only reductions
    strictly > 0 qualify (initial max is 0). max() over a struct
    orders lexicographically — reduction first — so one aggregate
    replaces the reference's sequential scan. Ties: the reference
    takes first-seen (dict order); we break by larger before value,
    deterministic under any partitioning.
    """
    fc_red = F.col("file_count") - F.col("after_file_count")
    oh_red = F.col("scan_overhead") - F.col("after_scan_overhead")

    base = per_part.groupBy(*group_cols) if group_cols else per_part
    return base.agg(
        F.coalesce(F.sum("file_count"), F.lit(0)).alias("file_count"),
        F.coalesce(F.sum("total_size"), F.lit(0)).alias("total_size"),
        F.coalesce(F.sum("scan_overhead"), F.lit(0)).alias("scan_overhead_sum"),
        F.coalesce(F.sum("data_file_count"), F.lit(0)).alias("data_file_count"),
        F.coalesce(F.sum("data_size"), F.lit(0)).alias("data_size"),
        F.count("*").alias("total_partitions"),
        # worst = min per-partition average over ALL files (deletes
        # included — PartitionMetrics.average_file_size, :32-34).
        F.coalesce(
            F.min(F.col("total_size") / F.col("file_count")), F.lit(0.0)
        ).alias("worst_avg_file_size"),
        F.coalesce(F.max("total_size"), F.lit(0)).alias("largest_partition_size"),
        F.coalesce(F.sum("after_file_count"), F.lit(0)).alias("after_file_count"),
        F.coalesce(F.sum("after_scan_overhead"), F.lit(0)).alias(
            "after_full_scan_overhead"
        ),
        F.max(
            F.when(
                fc_red > 0,
                F.struct(
                    fc_red.alias("red"),
                    F.col("file_count").alias("before"),
                    F.col("after_file_count").alias("after"),
                ),
            )
        ).alias("worst_fc"),
        F.max(
            F.when(
                oh_red > 0,
                F.struct(
                    oh_red.alias("red"),
                    F.col("scan_overhead").alias("before"),
                    F.col("after_scan_overhead").alias("after"),
                ),
            )
        ).alias("worst_oh"),
    )


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
    g = _aggregate_per_part(per_part, []).withColumn(
        "full_scan_overhead",
        F.col("scan_overhead_sum")
        + F.lit(manifest_files_count * MILLISECONDS_PER_SCAN),
    )
    return _nine_metric_rows(g, [])


def multi_table_metrics(
    files: DataFrame,
    manifest_counts: DataFrame,
    table_col: str = "table_name",
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
    per_part = partition_stats_with_after(files, table_col=table_col)
    g = (
        _aggregate_per_part(per_part, [table_col])
        .join(F.broadcast(manifest_counts), table_col, "left")
        .withColumn(
            "full_scan_overhead",
            F.col("scan_overhead_sum")
            + F.coalesce(F.col("manifest_count"), F.lit(0))
            * MILLISECONDS_PER_SCAN,
        )
    )
    return _nine_metric_rows(g, [table_col])
