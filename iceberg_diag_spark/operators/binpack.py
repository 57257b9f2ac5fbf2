"""Greedy bin-packing of file sizes — the one operator in the
reference that is genuinely not window/relational-expressible.

Reference semantics (``icebergdiag/metrics/table_metrics.py:179-197``):
sort sizes ascending, fold left accumulating into the current group;
a group is closed only when its running total ALREADY exceeds the cap
before appending the next file ("check-before-append"), so every
closed group slightly exceeds the 750 MiB cap. The reset depends on
where the previous group closed, which makes it a sequential stateful
fold — not expressible with window prefix sums.

Spark mapping: grouped-map ``applyInPandas`` keyed by partition.
Sequential per group, parallel across partitions. At 100 TB the input
here is *metadata* scale (one row per data file — millions of rows,
KBs per partition group), so a per-group pandas fold is cheap and the
shuffle is keyed by partition value with map-side combine upstream.
The output is one row per (partition, group) — already aggregated, so
no large pandas frames are returned.

Parallelism caveat (inherent to the reference's per-partition fold):
task parallelism equals the number of distinct partition values, so
an UNPARTITIONED table folds in one task. That task is still only
O(n log n) over that table's file-count metadata (pack_group_stats
makes the aggregate form O(#groups log n)); a table whose *file
count* alone is too large for one task has bigger problems than this
fold.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from iceberg_diag_spark.functions.cost import MAX_GROUP_BYTE_SIZE

GROUPS_SCHEMA = (
    "partition_key string, group_id long, group_file_count long, group_size long"
)


def pack_sizes(sizes, max_bytes_per_group: int = MAX_GROUP_BYTE_SIZE):
    """Pure-python reference fold used inside the pandas UDF and in
    property tests. Returns list of (count, total_size) per group.

    Mirrors check-before-append semantics exactly.
    """
    groups: list[tuple[int, int]] = []
    count = 0
    total = 0
    for s in sorted(sizes):
        if total > max_bytes_per_group:
            groups.append((count, total))
            count = 0
            total = 0
        count += 1
        total += int(s)
    if count:
        groups.append((count, total))
    return groups


def pack_group_bounds(
    sorted_sizes, max_bytes_per_group: int = MAX_GROUP_BYTE_SIZE
) -> tuple[list[int], list[int]]:
    """The fold's group boundaries over ASCENDING sizes: (ends,
    totals), the inclusive last index and the byte total of every
    group, in O(#groups · log n) via prefix sums + searchsorted rather
    than a per-row loop. The one kernel behind pack_group_stats,
    binpack_groups and compaction.binpack_assign; property-tested
    equal to pack_sizes.

    A group starting at index s with base = P(s-1) ends at the FIRST
    index e where P(e) - base > cap (check-before-append includes the
    crossing row), or at the last row when no crossing remains.
    """
    ps = np.cumsum(np.asarray(sorted_sizes, dtype="int64"))
    n = int(ps.size)
    ends: list[int] = []
    totals: list[int] = []
    base = start = 0
    while start < n:
        e = int(np.searchsorted(ps, base + max_bytes_per_group, side="right"))
        e = min(e, n - 1)
        ends.append(e)
        totals.append(int(ps[e]) - base)
        base = int(ps[e])
        start = e + 1
    return ends, totals


def pack_group_stats(sizes, max_bytes_per_group: int = MAX_GROUP_BYTE_SIZE):
    """Aggregate form of the fold: (n_groups, sum-of-group read costs)
    without materializing per-group rows. Used by the fused
    diagnostics pass."""
    from iceberg_diag_spark.functions.cost import FETCH_SIZE

    _, totals = pack_group_bounds(
        np.sort(np.asarray(sizes, dtype="int64")), max_bytes_per_group
    )
    return len(totals), sum(t // FETCH_SIZE + 2 for t in totals)


def binpack_groups(
    data_files: DataFrame,
    partition_col: str = "partition_key",
    size_col: str = "file_size_in_bytes",
    max_bytes_per_group: int = MAX_GROUP_BYTE_SIZE,
) -> DataFrame:
    """DATA-file sizes per partition -> one row per packed group.

    Input: DataFrame with (partition_col, size_col) — caller filters to
    DATA content. Output: (partition_key, group_id, group_file_count,
    group_size).
    """

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        ends, totals = pack_group_bounds(
            np.sort(pdf[size_col].to_numpy()), max_bytes_per_group
        )
        return pd.DataFrame(
            {
                partition_col: pdf[partition_col].iloc[0],
                "group_id": np.arange(len(ends), dtype="int64"),
                "group_file_count": np.diff(ends, prepend=-1),
                "group_size": totals,
            }
        )

    cols = data_files.select(partition_col, size_col)
    return cols.groupBy(partition_col).applyInPandas(_pack, schema=GROUPS_SCHEMA)
