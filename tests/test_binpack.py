"""Bin-packing semantics: check-before-append, ascending sort,
group-exceeds-cap — property-tested against a hand fold, plus a Spark
roundtrip of the grouped-map UDF.
"""

from __future__ import annotations

import random

import numpy as np
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from iceberg_diag_spark.functions.cost import MAX_GROUP_BYTE_SIZE
from iceberg_diag_spark.operators.binpack import binpack_groups, pack_sizes

MIB = 1024 * 1024


def reference_fold(sizes, cap):
    """Literal transcription of the reference algorithm's observable
    output (group membership lists) for cross-checking pack_sizes."""
    sorted_sizes = sorted(sizes)
    result, current = [], []
    total = 0
    for s in sorted_sizes:
        if total > cap:
            result.append(current)
            current = []
            total = 0
        current.append(s)
        total += s
    if current:
        result.append(current)
    return result


@given(
    st.lists(st.integers(min_value=0, max_value=2_000 * MIB), max_size=200),
    st.integers(min_value=1, max_value=1_000 * MIB),
)
@settings(max_examples=200, deadline=None)
def test_pack_matches_reference_fold(sizes, cap):
    expected = [(len(g), sum(g)) for g in reference_fold(sizes, cap)]
    assert pack_sizes(sizes, cap) == expected


def test_check_before_append_overflow():
    # 3 files of 400 MiB, cap 750 MiB: group closes only AFTER the
    # running total exceeds the cap → first group holds TWO files
    # (800 MiB > cap), not one.
    groups = pack_sizes([400 * MIB] * 3, 750 * MIB)
    assert groups == [(2, 800 * MIB), (1, 400 * MIB)]


def test_empty_and_single():
    assert pack_sizes([], 10) == []
    assert pack_sizes([5], 1) == [(1, 5)]  # first file always joins group 0


def test_spark_binpack_matches_local(spark):
    rng = random.Random(7)
    rows = [
        (f"p{i % 5}", rng.randint(1 * MIB, 900 * MIB))
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "partition_key string, file_size_in_bytes long")
    got = {
        (r["partition_key"], r["group_id"]): (r["group_file_count"], r["group_size"])
        for r in binpack_groups(df).collect()
    }
    for p in {f"p{i}" for i in range(5)}:
        local = pack_sizes([s for k, s in rows if k == p])
        for gid, expect in enumerate(local):
            assert got[(p, gid)] == expect
    assert len(got) == sum(
        len(pack_sizes([s for k, s in rows if k == p])) for p in {f"p{i}" for i in range(5)}
    )


@given(
    st.lists(
        st.one_of(
            st.integers(min_value=0, max_value=2_000 * 1024 * 1024),
            # adversarial: exact cap multiples and off-by-one sizes
            st.sampled_from(
                [
                    0,
                    1,
                    MAX_GROUP_BYTE_SIZE,
                    MAX_GROUP_BYTE_SIZE - 1,
                    MAX_GROUP_BYTE_SIZE + 1,
                ]
            ),
        ),
        max_size=200,
    )
)
def test_pack_group_stats_equals_reference_fold(sizes):
    """The O(#groups log n) searchsorted fold used by the fused
    diagnostics pass must agree with the reference check-before-append
    fold on group count AND total read cost for any input, including
    zero sizes and cap-exact boundaries."""
    from iceberg_diag_spark.functions.cost import FETCH_SIZE
    from iceberg_diag_spark.operators.binpack import pack_group_stats

    groups = pack_sizes(sizes)
    want_cost = sum(total // FETCH_SIZE + 2 for _, total in groups)
    got_groups, got_cost = pack_group_stats(sizes)
    assert got_groups == len(groups)
    assert got_cost == want_cost


_EDGE_SIZES = st.one_of(
    st.integers(min_value=0, max_value=2_000 * MIB),
    st.sampled_from(
        [0, MAX_GROUP_BYTE_SIZE - 1, MAX_GROUP_BYTE_SIZE, MAX_GROUP_BYTE_SIZE + 1]
    ),
)


@given(st.lists(st.lists(_EDGE_SIZES, max_size=40), max_size=12))
@settings(max_examples=300, deadline=None)
def test_segmented_kernel_equals_pack_sizes_per_segment(segments):
    """The segmented kernel behind the diagnostics fold equals
    pack_sizes applied to each segment on its own — groups, group
    count and read cost — with empty segments, zero sizes and sizes of
    exactly the cap and the cap ± 1."""
    from iceberg_diag_spark.functions.cost import FETCH_SIZE
    from iceberg_diag_spark.operators.binpack import (
        pack_segment_stats,
        pack_segments,
    )

    flat = [s for seg in segments for s in sorted(seg)]
    lens = [len(seg) for seg in segments]
    seg, ends, totals = pack_segments(flat, lens)
    groups, cost = pack_segment_stats(flat, lens)
    offset = 0
    for j, sizes in enumerate(segments):
        want = pack_sizes(sizes)
        mine = seg == j
        got = list(
            zip(np.diff(ends[mine], prepend=offset - 1).tolist(), totals[mine].tolist())
        )
        assert got == want
        assert groups[j] == len(want)
        assert cost[j] == sum(t // FETCH_SIZE + 2 for _, t in want)
        offset += len(sizes)


def _reference_stats(df, keys):
    """partition_stats for the BEFORE columns plus pack_sizes of each
    key's DATA sizes, computed in Python, for the AFTER columns."""
    from iceberg_diag_spark.functions.cost import FETCH_SIZE
    from iceberg_diag_spark.operators.diagnostics import partition_stats

    rows = df.collect()
    out = set()
    for key in keys:
        part = df.filter(F.col("table_name") == key) if key else df
        data = {}
        for r in rows:
            if (not key or r["table_name"] == key) and r["content"] == 0:
                data.setdefault(r["partition_key"], []).append(r["file_size_in_bytes"])
        for r in partition_stats(part).collect():
            packs = pack_sizes(data.get(r["partition_key"], []))
            out.add(
                ((key,) if key else ())
                + tuple(r)
                + (len(packs), sum(t // FETCH_SIZE + 2 for _, t in packs))
            )
    return out


def test_arrow_fold_matches_reference_across_batches(spark):
    """partition_stats_with_after with 7-row Arrow batches, so keys
    straddle batches: a NULL partition, a delete-only partition, an
    empty input and the two-key table_col path all equal
    partition_stats plus pack_sizes per key."""
    from iceberg_diag_spark.operators.diagnostics import partition_stats_with_after

    rng = random.Random(11)
    sizes = [0, 1, MAX_GROUP_BYTE_SIZE, MAX_GROUP_BYTE_SIZE + 1, 400 * MIB]
    rows = []
    for table in ("t1", "t2"):
        for key, n in (("a", 40), ("b", 1), (None, 9), ("c", 23), ("e", 7)):
            for _ in range(n):
                size = rng.choice(sizes + [rng.randint(0, 900 * MIB)])
                rows.append((table, key, size, rng.choice([0, 0, 1, 2])))
        rows += [(table, "deletes_only", 5 * MIB, c) for c in (1, 2, 1)]
    df = spark.createDataFrame(
        rows,
        "table_name string, partition_key string,"
        " file_size_in_bytes long, content int",
    )
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        single = df.filter(F.col("table_name") == "t1").drop("table_name")
        got = {tuple(r) for r in partition_stats_with_after(single).collect()}
        assert got == _reference_stats(single, [None])
        assert {r[0] for r in got} == {"a", "b", None, "c", "e", "deletes_only"}
        assert [r[-2:] for r in got if r[0] == "deletes_only"] == [(0, 0)]

        multi = partition_stats_with_after(df, table_col="table_name")
        got = {tuple(r) for r in multi.collect()}
        assert got == _reference_stats(df, ["t1", "t2"])
        assert len(got) == 12

        assert partition_stats_with_after(single.limit(0)).collect() == []
    finally:
        spark.conf.set(conf, prev)
