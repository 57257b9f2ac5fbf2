"""Greedy bin-packing of file sizes — the one operator in the
reference that is genuinely not window/relational-expressible.

Reference semantics (``icebergdiag/metrics/table_metrics.py:179-197``):
sort sizes ascending, fold left accumulating into the current group;
a group is closed only when its running total ALREADY exceeds the cap
before appending the next file ("check-before-append"), so every
closed group slightly exceeds the 750 MiB cap. The reset depends on
where the previous group closed, which makes it a sequential stateful
fold — not expressible with window prefix sums.

Spark mapping: one kernel, ``pack_segments``, folds any number of
independent segments (partitions) of ascending sizes at once — one
prefix sum over all rows, then one vectorized ``searchsorted`` per
pack-group step across every open segment. Every caller feeds it the
partitions of an Arrow batch from ``parallel.fold_by_key`` (a hash
repartition, a sort by (partition, size), one ``mapInArrow`` call per
batch): the diagnostics panel through ``pack_segment_stats``,
``binpack_groups`` and ``compaction.binpack_assign`` through
``pack_keys`` for a row per group or per file. At 100 TB the input
here is *metadata* scale (one row per data file — millions of rows,
KBs per partition).

Parallelism caveat (inherent to the reference's per-partition fold):
a partition is never split across tasks, so an UNPARTITIONED table
folds in one task. That task is still only O(n log n) over that
table's file-count metadata; a table whose *file count* alone is too
large for one task has bigger problems than this fold.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame

from iceberg_diag_spark.functions.cost import MAX_GROUP_BYTE_SIZE, read_cost_array
from iceberg_diag_spark.functions.parallel import fold_by_key


def pack_sizes(sizes, max_bytes_per_group: int = MAX_GROUP_BYTE_SIZE):
    """Pure-python reference fold, used in property tests. Returns
    list of (count, total_size) per group.

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


def pack_segments(
    sorted_sizes, seg_lens, max_bytes_per_group: int = MAX_GROUP_BYTE_SIZE
):
    """The fold over many independent segments at once — the package's
    one bin-pack boundary kernel, property-tested equal to pack_sizes
    per segment. ``sorted_sizes`` is the concatenation of the segments
    (``seg_lens`` rows each, empty segments allowed), each ASCENDING.

    Returns (seg, ends, totals): one entry per group — the segment
    index, the group's inclusive last row and its byte total; each
    segment's groups appear in order.

    One prefix sum P covers every row. A group starting at row s with
    base = P(s-1) ends at the FIRST row e where P(e) - base > cap
    (check-before-append includes the crossing row), or at its
    segment's last row when no crossing remains. Each loop pass closes
    the next group of EVERY open segment with one vectorized
    searchsorted, so the loop runs as many times as the largest
    segment has groups, not once per group.
    """
    ps = np.cumsum(np.asarray(sorted_sizes, dtype="int64"))
    lens = np.asarray(seg_lens, dtype="int64")
    seg = np.flatnonzero(lens)
    last = (np.cumsum(lens) - 1)[seg]
    pos = last - lens[seg] + 1
    out = [(np.zeros(0, dtype="int64"),) * 3]
    while seg.size:
        base = np.where(pos > 0, ps[pos - 1], 0)
        end = np.minimum(
            np.searchsorted(ps, base + max_bytes_per_group, side="right"), last
        )
        out.append((seg, end, ps[end] - base))
        more = end < last
        seg, pos, last = seg[more], end[more] + 1, last[more]
    return tuple(np.concatenate(c) for c in zip(*out))


def pack_keys(sorted_sizes, starts, max_bytes_per_group: int = MAX_GROUP_BYTE_SIZE):
    """pack_segments over the key groups of a ``fold_by_key`` batch
    (one segment from each row of ``starts``): per group, in row
    order, (its segment, its rank within the segment, its file count,
    its byte total). Used by binpack_groups and
    compaction.binpack_assign."""
    lens = np.diff(starts, append=len(sorted_sizes))
    seg, ends, totals = pack_segments(sorted_sizes, lens, max_bytes_per_group)
    order = np.argsort(ends)  # by segment, then fold order
    seg, ends = seg[order], ends[order]
    rank = np.arange(len(seg)) - np.searchsorted(seg, seg)
    return seg, rank, np.diff(ends, prepend=-1), totals[order]


def pack_segment_stats(
    sorted_sizes, seg_lens, max_bytes_per_group: int = MAX_GROUP_BYTE_SIZE
):
    """Aggregate form of pack_segments: per segment, (number of groups,
    sum of group read costs) as int64 arrays — 0 and 0 for an empty
    segment. Used by the diagnostics fold."""
    seg, _, totals = pack_segments(sorted_sizes, seg_lens, max_bytes_per_group)
    groups = np.bincount(seg, minlength=len(seg_lens)).astype("int64")
    cost = np.zeros(len(seg_lens), dtype="int64")
    np.add.at(cost, seg, read_cost_array(totals))
    return groups, cost


def binpack_groups(
    data_files: DataFrame,
    partition_col: str = "partition_key",
    size_col: str = "file_size_in_bytes",
    max_bytes_per_group: int = MAX_GROUP_BYTE_SIZE,
) -> DataFrame:
    """DATA-file sizes per partition -> one row per packed group.

    Input: DataFrame with (partition_col, size_col) — caller filters to
    DATA content. Output: (partition_col as a string, group_id,
    group_file_count, group_size) — one ``fold_by_key`` pass sorted by
    size; group_id is the group's rank within its partition.
    """
    schema = pa.schema(
        [(partition_col, pa.string())]
        + [(c, pa.int64()) for c in ("group_id", "group_file_count", "group_size")]
    )

    def _pack(batch, starts):
        seg, rank, count, total = pack_keys(
            batch.column(1).to_numpy(), starts, max_bytes_per_group
        )
        key = batch.column(0).take(starts[seg]).cast(pa.string())
        return pa.RecordBatch.from_arrays([key, rank, count, total], schema=schema)

    cols = data_files.select(partition_col, size_col)
    return fold_by_key(cols, [partition_col], [size_col], _pack, schema)
