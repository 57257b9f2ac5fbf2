"""Bin-packing semantics: check-before-append, ascending sort,
group-exceeds-cap — property-tested against a hand fold, plus Spark
roundtrips of every caller of the one per-key Arrow fold
(``parallel.fold_by_key``) against its Python reference.
"""

from __future__ import annotations

import ast
import pathlib
import random

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

import iceberg_diag_spark
from iceberg_diag_spark.functions.cost import MAX_GROUP_BYTE_SIZE
from iceberg_diag_spark.operators.binpack import binpack_groups, pack_sizes
from iceberg_diag_spark.operators.compaction import binpack_assign
from iceberg_diag_spark.operators.packing import (
    pack_assign_from_counts,
    pack_fold,
    pack_sequences_from_counts,
)

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
    # the output key column is named after partition_col
    renamed = binpack_groups(
        df.withColumnRenamed("partition_key", "part"), partition_col="part"
    )
    assert renamed.columns[0] == "part"
    assert {
        (r["part"], r["group_id"]): (r["group_file_count"], r["group_size"])
        for r in renamed.collect()
    } == got


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


def _diagnostics_case(spark):
    """partition_stats_with_after: a NULL partition, a delete-only
    partition, an empty input and the two-key table_col path all equal
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


# (key, id, value) rows for the other four callers: a NULL key, keys
# longer than a 7-row batch, ties on the value and values of exactly
# the cap and the cap ± 1.
_FOLD_KEYS = (("a", 40), ("b", 1), (None, 9), ("c", 23), ("e", 7))
_CAP = 60


def _fold_rows():
    rng = random.Random(12)
    keys = [k for k, n in _FOLD_KEYS for _ in range(n)]
    values = [0, 1, 30, _CAP - 1, _CAP, _CAP + 1]
    return [(k, i, rng.choice(values)) for i, k in enumerate(keys)]


def _by_key(rows):
    out = {}
    for k, i, v in rows:
        out.setdefault(k, []).append((i, v))
    return out


def _binpack_groups_case(spark, rows):
    df = spark.createDataFrame(
        [(k, v) for k, _, v in rows],
        "partition_key string, file_size_in_bytes long",
    )
    want = {
        (k, g, c, t)
        for k, kv in _by_key(rows).items()
        for g, (c, t) in enumerate(pack_sizes([v for _, v in kv], _CAP))
    }
    got = binpack_groups(df, max_bytes_per_group=_CAP).collect()
    return {tuple(r) for r in got}, want


def _binpack_assign_case(spark, rows):
    df = spark.createDataFrame(
        rows, "partition_key string, file_id long, logical_size long"
    )
    want = set()
    for k, kv in _by_key(rows).items():
        kv = sorted(kv, key=lambda p: (p[1], p[0]))  # (size, file_id)
        packs = pack_sizes([v for _, v in kv], _CAP)
        gids = [g for g, (c, _) in enumerate(packs) for _ in range(c)]
        want |= {(k, i, v, g) for (i, v), g in zip(kv, gids)}
    got = binpack_assign(df, max_bytes_per_group=_CAP).collect()
    return {tuple(r) for r in got}, want


def _counts(spark, rows):
    """(source, shard, doc_id, n_tokens), two shards per source."""
    return spark.createDataFrame(
        [(k, i % 2, i, v) for k, i, v in rows],
        "source string, shard long, doc_id long, n_tokens long",
    )


def _shards(rows):
    out = {}
    for k, i, v in sorted(rows, key=lambda r: r[1]):  # doc_id order
        out.setdefault((k, i % 2), []).append((i, v))
    return out


def _pack_sequences_case(spark, rows):
    want = {
        (k, shard, sid, c, t, t > _CAP)
        for (k, shard), docs in _shards(rows).items()
        for sid, (c, t) in enumerate(pack_fold([v for _, v in docs], _CAP))
    }
    got = pack_sequences_from_counts(_counts(spark, rows), _CAP).collect()
    return {tuple(r) for r in got}, want


def _pack_assign_case(spark, rows):
    want = set()
    for (k, shard), docs in _shards(rows).items():
        packs = pack_fold([v for _, v in docs], _CAP)
        sids = [s for s, (c, _) in enumerate(packs) for _ in range(c)]
        want |= {(k, shard, i, v, s) for (i, v), s in zip(docs, sids)}
    got = pack_assign_from_counts(_counts(spark, rows), _CAP).collect()
    return {tuple(r) for r in got}, want


_CASES = {
    "binpack_groups": _binpack_groups_case,
    "binpack_assign": _binpack_assign_case,
    "pack_sequences": _pack_sequences_case,
    "pack_assign": _pack_assign_case,
}


@pytest.mark.parametrize("caller", ["diagnostics", *_CASES])
def test_arrow_fold_matches_reference_across_batches(spark, caller):
    """Every caller of fold_by_key with 7-row Arrow batches, so keys
    straddle batches, equals its Python reference per key (pack_sizes
    or pack_fold): a NULL key, ties on the value, an empty input."""
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        if caller == "diagnostics":
            _diagnostics_case(spark)
            return
        case = _CASES[caller]
        got, want = case(spark, _fold_rows())
        assert got == want
        assert None in {r[0] for r in got}
        assert case(spark, []) == (set(), set())
    finally:
        spark.conf.set(conf, prev)


def test_no_grouped_map_pandas():
    """Every per-key fold goes through fold_by_key: no grouped-map
    ``applyInPandas`` call anywhere in the package (the streaming
    ``applyInPandasWithState`` operators are a different API)."""
    pkg = pathlib.Path(iceberg_diag_spark.__file__).parent
    calls = [
        f"{p.relative_to(pkg)}:{n.lineno}"
        for p in sorted(pkg.rglob("*.py"))
        for n in ast.walk(ast.parse(p.read_text()))
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "applyInPandas"
    ]
    assert calls == []
