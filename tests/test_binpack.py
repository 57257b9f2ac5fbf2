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
from iceberg_diag_spark.functions.cost import FETCH_SIZE, MAX_GROUP_BYTE_SIZE
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
    """The segmented kernel behind the bin-pack folds equals
    pack_sizes applied to each segment on its own, with empty
    segments, zero sizes and sizes of exactly the cap and the cap ± 1."""
    from iceberg_diag_spark.operators.binpack import pack_segments

    flat = [s for seg in segments for s in sorted(seg)]
    lens = [len(seg) for seg in segments]
    seg, ends, totals = pack_segments(flat, lens)
    offset = 0
    for j, sizes in enumerate(segments):
        mine = seg == j
        got = list(
            zip(np.diff(ends[mine], prepend=offset - 1).tolist(), totals[mine].tolist())
        )
        assert got == pack_sizes(sizes)
        offset += len(sizes)


def _read_cost(total):
    return total // FETCH_SIZE + 2


def _python_stats(rows):
    """Per (table, partition) key: the BEFORE columns and pack_sizes'
    group count and read cost of its DATA sizes, in plain Python."""
    by_key = {}
    for table, key, size, content in rows:
        by_key.setdefault((table, key), []).append((size, content))
    out = {}
    for k, files in by_key.items():
        data = [s for s, c in files if c == 0]
        packs = pack_sizes(data)
        out[k] = (
            len(files),
            sum(s for s, _ in files),
            sum(_read_cost(s) for s, _ in files),
            len(data),
            sum(data),
            len(packs),
            sum(_read_cost(t) for _, t in packs),
        )
    return out


def test_panel_aggregate_equals_pack_sizes_per_partition(spark):
    """partition_stats_with_after — the diagnostics panel's one
    JVM-side aggregate — equals pack_sizes per partition on seeded
    random partitions (zero sizes, sizes of the cap and the cap ± 1),
    on both the single-table and the (table, partition) path, plus
    the edge partitions below."""
    from iceberg_diag_spark.operators.diagnostics import partition_stats_with_after

    cap = MAX_GROUP_BYTE_SIZE
    edge = [0, 1, cap - 1, cap, cap + 1, 2_000 * MIB]
    rng = random.Random(5)
    rows = []
    for table in ("t1", "t2"):
        for p in [*range(120), None]:
            for _ in range(rng.randint(1, 40)):
                size = rng.choice(edge) if rng.random() < 0.3 else rng.randint(0, 900 * MIB)
                content = rng.choice([0, 0, 0, 1, 2, None])
                rows.append((table, None if p is None else f"p{p}", size, content))
        rows += [
            # the running total reaches the cap exactly: no close
            (table, "at_cap", cap // 2, 0),
            (table, "at_cap", cap // 2, 0),
            (table, "at_cap", 5 * MIB, 0),
            *[(table, "zeros", 0, 0)] * 5,
            # every file alone over the cap: one group each
            *[(table, "over_cap", n * cap + 1, 0) for n in (1, 2, 3)],
            (table, "deletes_only", 5 * MIB, 1),
            (table, "deletes_only", 7 * MIB, 2),
            (table, "null_content", 9 * MIB, None),
            (table, "null_content", 0, 0),
        ]
    df = spark.createDataFrame(
        rows,
        "table_name string, partition_key string,"
        " file_size_in_bytes long, content int",
    )
    want = _python_stats(rows)
    multi = partition_stats_with_after(df, table_col="table_name").collect()
    assert {(r[0], r[1]): tuple(r[2:]) for r in multi} == want
    assert len(multi) == len(want)

    t1 = [r for r in rows if r[0] == "t1"]
    single = partition_stats_with_after(
        df.filter(F.col("table_name") == "t1").drop("table_name")
    ).collect()
    got = {r[0]: tuple(r[1:]) for r in single}
    assert got == {k: v for (_, k), v in _python_stats(t1).items()}
    assert len(single) == len(got)
    after = {k: v[-2:] for k, v in got.items()}
    assert after["at_cap"] == (1, _read_cost(cap + 5 * MIB))
    assert after["zeros"] == (1, 2)
    assert after["over_cap"] == (3, sum(_read_cost(n * cap + 1) for n in (1, 2, 3)))
    assert after["deletes_only"] == (0, 0)
    assert got["null_content"][3:] == (1, 0, 1, 2)
    assert None in got


def _reference_stats(df, keys):
    """partition_stats for the BEFORE columns plus pack_sizes of each
    key's DATA sizes, computed in Python, for the AFTER columns."""
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
                + (len(packs), sum(_read_cost(t) for _, t in packs))
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
    or pack_fold): a NULL key, ties on the value, an empty input. The
    diagnostics panel, a JVM-side aggregate, must not depend on the
    batch size either."""
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
