"""Randomized cross-checks of the round-5d primitives against
brute-force Python references (seeded — deterministic corpora, a few
Spark jobs per test rather than per-example)."""

from __future__ import annotations

import ast
import hashlib
import pathlib
import random

import pytest
from pyspark.sql import functions as F

import iceberg_diag_spark
from iceberg_diag_spark.operators.maintenance import clustering_advisor
from iceberg_diag_spark.operators.shuffling import grouped_prefix_sum
from iceberg_diag_spark.operators.similarity import dim_variance_audit


def test_clustering_advisor_matches_bruteforce_pairs(spark):
    rng = random.Random(42)
    rows = []
    ref = {}
    for c in ("g1", "g2", "g3"):
        intervals = []
        for fid in range(60):
            lo = rng.randrange(0, 500)
            hi = lo + rng.randrange(0, 120)
            intervals.append((fid, lo, hi))
            rows.append((c, fid, lo, hi))
        pairs = sum(
            1
            for i in range(len(intervals))
            for j in range(i + 1, len(intervals))
            if intervals[i][1] <= intervals[j][2]
            and intervals[j][1] <= intervals[i][2]
        )
        # max depth: at each interval start, how many intervals cover it
        depth = max(
            sum(
                1
                for (g, lo2, hi2) in intervals
                if lo2 <= lo and lo <= hi2
            )
            for (_, lo, _) in intervals
        )
        ref[c] = (pairs, depth)
    fs = spark.createDataFrame(
        rows, "col_name string, file_id long, lo long, hi long"
    )
    got = {r["col_name"]: r for r in clustering_advisor(fs).collect()}
    for c, (pairs, depth) in ref.items():
        assert got[c]["overlap_pairs"] == pairs, c
        assert got[c]["max_depth"] == depth, c


def _md5(i: int) -> str:
    return hashlib.md5(str(i).encode()).hexdigest()


def _prefix_cases():
    rng = random.Random(7)
    many = []
    for g in ("a", "b", "c", "d"):
        # distinct order keys, non-contiguous, with varied counts
        many += [(g, k, rng.randrange(1, 50)) for k in rng.sample(range(10_000), 500)]
    ties = [
        (rng.choice(["x", "y", None]), rng.randrange(0, 6), i) for i in range(300)
    ]
    md5 = [(_md5(i), i, rng.randrange(1, 9), 0) for i in range(400)]
    num = [(rng.randrange(-50, 50), i, rng.randrange(1, 9), -i) for i in range(200)]
    # (schema, rows, group cols, order cols, value cols, n_shards)
    return {
        "numeric_many_groups": (
            "g string, k long, v long", many, ["g"], ["k"], ["v"], 16,
        ),
        "single_row_groups": (
            "g string, k long, v long",
            [("a", 1, 10), ("b", 2, 20)], ["g"], ["k"], ["v"], 32,
        ),
        "null_group": (
            "g string, k long, v long",
            [("a", 1, 10), (None, 2, 20), (None, 3, 5)], ["g"], ["k"], ["v"], 32,
        ),
        "ties_count": (
            "g string, k long, id long", ties, ["g"], ["k", "id"], [], 3,
        ),
        "md5_no_group_count": (
            "h string, id long, a long, b long", md5, [], ["h", "id"], [], 16,
        ),
        "md5_one_group_two_values": (
            "h string, id long, a long, g long",
            md5, ["g"], ["h", "id"], ["a", "id"], 16,
        ),
        "numeric_one_shard_two_values": (
            "k long, id long, a long, b long",
            num, [], ["k", "id"], ["a", "b"], 1,
        ),
        "empty": ("g string, k long, v long", [], ["g"], ["k"], ["v"], 16),
    }


_PREFIX_CASES = _prefix_cases()


@pytest.mark.parametrize("case", sorted(_PREFIX_CASES))
def test_grouped_prefix_sum_matches_python_reference(spark, case):
    """The one range-shard primitive against a plain Python sort +
    cumulative sum: numeric (percentile) and md5 (first-character)
    shards, zero/one/many groups and a NULL group, ties in the first
    order column, two sums and count mode, 1/3/16/32 shards, no rows."""
    schema, rows, groups, order, vals, n_shards = _PREFIX_CASES[case]
    names = [c.split()[0] for c in schema.split(", ")]
    pos = {c: i for i, c in enumerate(names)}
    outs = [f"p{i}" for i in range(max(len(vals), 1))]
    want = {}
    by_group = {}
    for r in rows:
        by_group.setdefault(tuple(r[pos[c]] for c in groups), []).append(r)
    for members in by_group.values():
        members.sort(key=lambda r: tuple(r[pos[c]] for c in order))
        adds = [tuple(r[pos[v]] for v in vals) or (1,) for r in members]
        tot = tuple(map(sum, zip(*adds)))
        acc = (0,) * len(tot)
        for r, add in zip(members, adds):
            want[r] = acc + tot
            acc = tuple(x + y for x, y in zip(acc, add))
    df = spark.createDataFrame(rows, schema)
    out = grouped_prefix_sum(df, groups, order, vals, outs, n_shards=n_shards)
    got = {
        tuple(r[c] for c in names): tuple(r[o] for o in outs)
        + tuple(r[f"{o}_total"] for o in outs)
        for r in out.collect()
    }
    assert got == want


def test_range_shards_built_only_by_the_primitive():
    """The edge, shard and offset code exists once: no module but
    shuffling.py (and events._lateness, a prefix MAX) names a
    "__shard" column or percentile "__edges"."""
    pkg = pathlib.Path(iceberg_diag_spark.__file__).parent
    allowed = {"operators/shuffling.py", "operators/events.py"}
    hits = sorted(
        f"{p.relative_to(pkg)}:{n.lineno}"
        for p in pkg.rglob("*.py")
        if str(p.relative_to(pkg)) not in allowed
        for n in ast.walk(ast.parse(p.read_text()))
        if isinstance(n, ast.Constant) and n.value in ("__shard", "__edges")
    )
    assert hits == []


def test_dim_variance_matches_integer_reference(spark):
    rng = random.Random(11)
    import math

    vecs = [
        [rng.uniform(-1, 1) for _ in range(8)] for _ in range(300)
    ]
    emb = spark.createDataFrame(
        [(v,) for v in vecs], "embedding array<float>"
    )
    got = {r["pos"]: r for r in dim_variance_audit(emb).collect()}
    import struct

    def as_f32(x):
        return struct.unpack("f", struct.pack("f", x))[0]

    for pos in range(8):
        qs = [math.floor(as_f32(v[pos]) * 1024.0) for v in vecs]
        n = len(qs)
        s = sum(qs)
        ss = sum(q * q for q in qs)
        assert got[pos]["n_vecs"] == n
        assert got[pos]["mean_q_ppm"] == math.floor(1_000_000.0 * s / n)
        assert got[pos]["var_q"] == math.floor((n * ss - s * s) / (n * n))
