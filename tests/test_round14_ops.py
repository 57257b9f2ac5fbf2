"""Round-14 operator contracts: diag_compaction_apply (the executing
bin-pack remediation — advisor-executing pattern #10) and the
round-14 funnel hardening (sig_path made explicit, lineage-guard
error discrimination)."""

from __future__ import annotations

import glob
import hashlib
import os
import shutil

import pytest
from pyspark.sql import functions as F

from iceberg_diag_spark.operators import funnel
from iceberg_diag_spark.operators.binpack import pack_sizes
from iceberg_diag_spark.operators.compaction import (
    binpack_assign,
    compact_apply_binpack,
    physical_file_sizes,
)

from helpers import PAIRS_SCHEMA

LAYOUT_SCHEMA = (
    "row_key string, row_bytes long, file_id long, partition_key string"
)


def _write_layout(spark, path: str, parts: dict[str, list[list[int]]]):
    """Write a fragmented one-file-per-(partition, file_id) layout:
    ``parts[pk][fid]`` is the list of per-row byte sizes file fid of
    partition pk holds (its logical size = their sum)."""
    rows = []
    for pk, files in parts.items():
        for fid, sizes in enumerate(files):
            for i, s in enumerate(sizes):
                rows.append((f"{pk}|{fid}|{i}", s, fid, pk))
    df = spark.createDataFrame(rows, LAYOUT_SCHEMA)
    (
        df.repartition(4, "partition_key", "file_id")
        .sortWithinPartitions("partition_key", "file_id", "row_key")
        .write.mode("overwrite")
        .partitionBy("partition_key", "file_id")
        .parquet(path)
    )


def _apply(spark, path: str, cap: int, **kw):
    return compact_apply_binpack(
        spark,
        path,
        read_schema=LAYOUT_SCHEMA,
        row_size=F.col("row_bytes"),
        key=F.col("row_key"),
        order_cols=("row_key",),
        max_bytes_per_group=cap,
        **kw,
    )


def _dir_md5s(root: str) -> dict[str, str]:
    out = {}
    for p in sorted(glob.glob(f"{root}/**/part-*.parquet", recursive=True)):
        with open(p, "rb") as f:
            out[os.path.relpath(p, root)] = hashlib.md5(f.read()).hexdigest()
    return out


# ---------------------------------------------------------------- #
# binpack_assign vs the reference fold
# ---------------------------------------------------------------- #

def test_binpack_assign_matches_pack_sizes(spark):
    """One row out per file in, and the assignment's per-gid (count,
    total) profile equals pack_sizes' fold output exactly — including ties, where the
    (size, file_id) tie-break changes membership but never the
    profile."""
    import random

    rng = random.Random(14)
    cases = {
        "empty_tail": [10, 20, 30, 40],
        "ties": [5, 5, 5, 5, 5, 5],
        "one_big": [1000],
        "all_over_cap": [70, 80, 90],
        "random": [rng.randrange(1, 120) for _ in range(40)],
    }
    rows = [
        (pk, fid, s)
        for pk, sizes in cases.items()
        for fid, s in enumerate(sizes)
    ]
    sized = spark.createDataFrame(
        rows, "partition_key string, file_id long, logical_size long"
    )
    cap = 60
    asg = binpack_assign(sized, max_bytes_per_group=cap)
    # every input row comes back once, with its gid
    assert sorted(tuple(r)[:3] for r in asg.collect()) == sorted(rows)
    got = (
        asg.groupBy("partition_key", "gid")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("logical_size").alias("tot"),
        )
        .collect()
    )
    by_part: dict[str, dict[int, tuple[int, int]]] = {}
    for r in got:
        by_part.setdefault(r["partition_key"], {})[r["gid"]] = (
            r["cnt"],
            r["tot"],
        )
    for pk, sizes in cases.items():
        expect = pack_sizes(sizes, cap)
        prof = [by_part[pk][g] for g in sorted(by_part[pk])]
        assert prof == [(c, t) for c, t in expect], pk


# ---------------------------------------------------------------- #
# compact_apply_binpack: execution, surgery, measurement
# ---------------------------------------------------------------- #

@pytest.fixture(scope="module")
def compacted_layout(spark, tmp_path_factory):
    """Two partitions: 'a' compacts 4 files -> 2 groups; 'b' is a
    no-reduction plan (every file alone exceeds the cap) and must
    stay byte-untouched. Built once per module; a test that rewrites
    the layout again works on its own copy."""
    path = str(tmp_path_factory.mktemp("compacted") / "layout")
    parts = {
        "a": [[4, 6], [8, 12], [30], [40]],  # sizes 10, 20, 30, 40
        "b": [[25, 25], [60]],  # sizes 50, 60 — both > cap
    }
    _write_layout(spark, path, parts)
    pre_md5 = _dir_md5s(path)
    led = {r["partition_key"]: r for r in _apply(spark, path, cap=45).collect()}
    return path, pre_md5, led


def test_compaction_executes_the_plan(spark, compacted_layout):
    path, _, led = compacted_layout
    a = led["a"]
    # plan: sorted [10,20,30,40] cap 45 -> (10,20,30)=60, (40)=40
    assert a["files_before"] == 4 and a["groups_planned"] == 2
    assert bool(a["compacted"]) is True
    # measured from the written files: one physical file per group
    assert a["files_after"] == 2
    assert a["rows_before"] == a["rows_after"] == 6
    assert a["size_before"] == a["size_after"] == 100
    # sizes all < FETCH_SIZE -> cost 2 per file/group
    assert a["scan_overhead_before"] == 8
    assert a["scan_overhead_planned"] == a["scan_overhead_after"] == 4
    dirs = sorted(glob.glob(f"{path}/partition_key=a/file_id=*"))
    assert len(dirs) == 2
    for d in dirs:
        assert len(glob.glob(f"{d}/part-*.parquet")) == 1


def test_compaction_untouched_partition_byte_identity(
    spark, compacted_layout
):
    path, pre_md5, led = compacted_layout
    b = led["b"]
    assert b["files_before"] == b["files_after"] == b["groups_planned"] == 2
    assert bool(b["compacted"]) is False
    post_md5 = _dir_md5s(path)
    pre_b = {k: v for k, v in pre_md5.items() if "partition_key=b" in k}
    post_b = {k: v for k, v in post_md5.items() if "partition_key=b" in k}
    assert pre_b == post_b and pre_b


def test_compaction_membership_digests_survive(spark, compacted_layout):
    path, _, led = compacted_layout
    from iceberg_diag_spark.operators.sampling import membership_checksums

    x1, x2 = membership_checksums(F.col("row_key"))
    back = (
        spark.read.schema(LAYOUT_SCHEMA)
        .parquet(path)
        .groupBy("partition_key")
        .agg(x1.alias("x1"), x2.alias("x2"))
        .collect()
    )
    for r in back:
        row = led[r["partition_key"]]
        assert row["members_xor_after"] == r["x1"]
        assert row["members_xor2_after"] == r["x2"]


def test_compaction_converges_to_fixed_point(
    spark, compacted_layout, tmp_path
):
    """A re-run may merge a partition's under-cap remainder group once
    more (check-before-append admits it), but within two further
    passes every file exceeds the cap or stands alone and nothing is
    rewritten again."""
    path = str(tmp_path / "layout")
    shutil.copytree(compacted_layout[0], path)
    led2 = {r["partition_key"]: r for r in _apply(spark, path, cap=45).collect()}
    # 'a' re-merges [60, 40] -> one group of 100; 'b' stays fixed
    assert bool(led2["a"]["compacted"]) is True
    assert led2["a"]["files_after"] == 1
    assert bool(led2["b"]["compacted"]) is False
    md5_after_2 = _dir_md5s(path)
    led3 = {r["partition_key"]: r for r in _apply(spark, path, cap=45).collect()}
    assert all(not bool(r["compacted"]) for r in led3.values())
    assert led3["a"]["rows_after"] == 6 and led3["b"]["rows_after"] == 3
    assert _dir_md5s(path) == md5_after_2


def test_compaction_ledger_plan_hint_free(spark, tmp_path):
    """The ledger's joins (the rewrite's assignment join, the
    after-state join) are stats-driven — no ResolvedHint anywhere in the lazy plan."""
    path = str(tmp_path / "layout")
    _write_layout(spark, path, {"a": [[10], [20]]})
    led = _apply(spark, path, cap=1000)
    assert "ResolvedHint" not in led._jdf.queryExecution().logical().toString()


def test_compaction_null_partition(spark, tmp_path):
    """The NULL partition is a partition: planned, rewritten and
    reported like any other, from row sizes and from a physical
    listing (where its dir is __HIVE_DEFAULT_PARTITION__) — no NULL
    row is lost to an ``isin`` filter or an equi-join."""
    from iceberg_diag_spark.operators.sampling import membership_checksums

    path = str(tmp_path / "layout")
    sizes = [[4, 6], [8, 12], [30], [40]]  # 10, 20, 30, 40
    _write_layout(spark, path, {"a": sizes, None: sizes})
    x1, x2 = membership_checksums(F.col("row_key"))

    def _digests():
        return {
            r["partition_key"]: (r["n"], r["x1"], r["x2"])
            for r in spark.read.schema(LAYOUT_SCHEMA)
            .parquet(path)
            .groupBy("partition_key")
            .agg(F.count(F.lit(1)).alias("n"), x1.alias("x1"), x2.alias("x2"))
            .collect()
        }

    before = _digests()
    assert set(before) == {"a", None}
    led = {r["partition_key"]: r for r in _apply(spark, path, cap=45).collect()}
    listed = physical_file_sizes(spark, path, "partition_key", "file_id")
    led2 = {
        r["partition_key"]: r
        for r in _apply(spark, path, cap=1 << 30, file_sizes=listed).collect()
    }
    for ledger, files_before, files_after in ((led, 4, 2), (led2, 2, 1)):
        assert set(ledger) == {"a", None}
        for pk, r in ledger.items():
            assert bool(r["compacted"]) is True, pk
            assert (r["files_before"], r["files_after"]) == (
                files_before, files_after
            ), pk
            assert r["rows_before"] == r["rows_after"] == 6, pk
            assert (r["members_xor_after"], r["members_xor2_after"]) == (
                before[pk][1:]
            ), pk
    assert _digests() == before
    for leaf in ("a", "__HIVE_DEFAULT_PARTITION__"):
        dirs = glob.glob(f"{path}/partition_key={leaf}/file_id=*")
        assert len(dirs) == 1, leaf  # no stale leaf left behind


@pytest.mark.parametrize("scope", ["neighbour_at_fixed_point", "partitions_batch"])
def test_compaction_only_null_partition(spark, tmp_path, scope):
    """The NULL partition is the ONLY one rewritten — its neighbour
    is already one file, or the call is scoped to ``partitions=[None]``
    — so the rewrite's membership list holds None alone. Its rows are
    rewritten into the planned groups (not dropped, not left behind),
    and the other partition's bytes on disk stay identical."""
    from iceberg_diag_spark.operators.sampling import membership_checksums

    path = str(tmp_path / "layout")
    sizes = [[4, 6], [8, 12], [30], [40]]  # 10, 20, 30, 40
    a_sizes = [[40]] if scope == "neighbour_at_fixed_point" else sizes
    _write_layout(spark, path, {"a": a_sizes, None: sizes})
    kw = {"partitions": [None]} if scope == "partitions_batch" else {}
    x1, x2 = membership_checksums(F.col("row_key"))

    def _digests():
        return {
            r["partition_key"]: (r["n"], r["x1"], r["x2"])
            for r in spark.read.schema(LAYOUT_SCHEMA)
            .parquet(path)
            .groupBy("partition_key")
            .agg(F.count(F.lit(1)).alias("n"), x1.alias("x1"), x2.alias("x2"))
            .collect()
        }

    def _md5s(leaf):
        return {
            k: v for k, v in _dir_md5s(path).items()
            if k.startswith(f"partition_key={leaf}/")
        }

    before = _digests()
    null_before, a_before = _md5s("__HIVE_DEFAULT_PARTITION__"), _md5s("a")
    led = {r["partition_key"]: r for r in _apply(spark, path, cap=45, **kw).collect()}
    r = led[None]
    assert bool(r["compacted"]) is True
    assert (r["files_before"], r["groups_planned"], r["files_after"]) == (4, 2, 2)
    assert r["rows_before"] == r["rows_after"] == 6
    assert (r["members_xor_after"], r["members_xor2_after"]) == before[None][1:]
    assert _digests() == before
    null_after = _md5s("__HIVE_DEFAULT_PARTITION__")
    assert len(null_after) == 2
    assert not set(null_after.items()) & set(null_before.items())  # rewritten
    assert _md5s("a") == a_before
    if scope == "neighbour_at_fixed_point":
        assert bool(led["a"]["compacted"]) is False
    else:
        assert set(led) == {None}


# ---------------------------------------------------------------- #
# predicted-after == re-diagnosed written layout (the verdict's ask)
# ---------------------------------------------------------------- #

def test_compaction_prediction_matches_rediagnosis(spark, tmp_path):
    """Execute the EXACT plan the diagnostics simulate, then re-run
    the diagnostics on the written files: the re-diagnosed 'before'
    of the rewritten layout equals the simulation's 'after' —
    FILE_COUNT and FULL_SCAN_OVERHEAD exactly (real bytes drive both
    the plan and the re-diagnosis; every size is sub-FETCH so the
    cost model is exact on both sides)."""
    from iceberg_diag_spark.operators.diagnostics import (
        partition_stats,
        partition_stats_with_after,
        table_metrics,
    )

    path = str(tmp_path / "layout")
    parts = {
        "a": [[100] * (fid + 1) for fid in range(7)],
        "b": [[250] * 3 for _ in range(5)],
        "c": [[9000]],
    }
    _write_layout(spark, path, parts)

    def _files_rel(listing):
        return listing.select(
            "partition_key",
            F.col("size_in_bytes").alias("file_size_in_bytes"),
            F.lit(0).alias("content"),
        )

    before_listing = physical_file_sizes(
        spark, path, "partition_key", "file_id"
    ).localCheckpoint(eager=True)
    sim = {
        r["partition_key"]: r
        for r in partition_stats_with_after(_files_rel(before_listing)).collect()
    }
    sim_metrics = {
        r["metric"]: r
        for r in table_metrics(_files_rel(before_listing)).collect()
    }

    _apply(spark, path, cap=750 * 1024 * 1024, file_sizes=before_listing).collect()

    after_listing = physical_file_sizes(spark, path, "partition_key", "file_id")
    rediag = {
        r["partition_key"]: r
        for r in partition_stats(_files_rel(after_listing)).collect()
    }
    for pk, s in sim.items():
        assert rediag[pk]["file_count"] == s["after_file_count"], pk
        assert rediag[pk]["scan_overhead"] == s["after_scan_overhead"], pk
    after_metrics = {
        r["metric"]: r
        for r in table_metrics(_files_rel(after_listing)).collect()
    }
    for m in ("FILE_COUNT", "FULL_SCAN_OVERHEAD"):
        assert after_metrics[m]["before"] == sim_metrics[m]["after"], m


# ---------------------------------------------------------------- #
# funnel hardening pins
# ---------------------------------------------------------------- #

def test_retraction_sig_path_is_required(spark):
    pairs = spark.createDataFrame([], PAIRS_SCHEMA)
    with pytest.raises(TypeError, match="sig_path"):
        funnel.release_retraction_apply(spark, pairs, "/tmp/nowhere")


def test_reconcile_missing_store_is_benign(spark, tmp_path):
    """PATH_NOT_FOUND (store/release not created yet) must stay the
    silent first-call path after the error-discrimination fix."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta", "en",
          "web", 46)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    release = str(tmp_path / "rel")
    funnel._write_release(docs, f"{release}/batch=0")
    out = funnel.release_neardup_reconcile(
        spark, [(0, docs)], release, str(tmp_path / "sig")
    )
    assert out.count() == 0


# ---------------------------------------------------------------- #
# cluster_apply_sorted: the sort-order twin
# ---------------------------------------------------------------- #

CLUSTER_SCHEMA = "row_key string, v long, file_id long"


def _write_cluster_layout(spark, path: str, files: list[list[int]]):
    """files[fid] = the v values file fid holds (arrival order)."""
    rows = [
        (f"{fid}|{i}", v, fid)
        for fid, vs in enumerate(files)
        for i, v in enumerate(vs)
    ]
    df = spark.createDataFrame(rows, CLUSTER_SCHEMA)
    (
        df.repartition(4, "file_id")
        .sortWithinPartitions("file_id", "v", "row_key")
        .write.mode("overwrite")
        .partitionBy("file_id")
        .parquet(path)
    )


def test_cluster_apply_executes_the_model(spark, tmp_path):
    """3 fully-overlapping arrival files of 4 rows -> sorted layout
    at m=4: 3 disjoint files (values 1..12 unique), overlap 0;
    measured-from-disk equals the closed-form prediction."""
    from iceberg_diag_spark.operators.compaction import (
        cluster_apply_sorted,
    )

    path = str(tmp_path / "cl")
    # arrival files interleave the value range -> every pair overlaps
    _write_cluster_layout(
        spark, path, [[1, 4, 7, 10], [2, 5, 8, 11], [3, 6, 9, 12]]
    )
    led = cluster_apply_sorted(
        spark,
        path,
        read_schema=CLUSTER_SCHEMA,
        value_col="v",
        key_col="row_key",
        rows_per_file=4,
    ).collect()
    assert len(led) == 1
    r = led[0]
    assert r["files_before"] == 3 and r["overlap_pairs_before"] == 3
    assert r["files_planned"] == r["files_after"] == 3
    assert r["overlap_pairs_planned"] == r["overlap_pairs_after"] == 0
    assert r["max_depth_planned"] == r["max_depth_after"] == 1
    assert r["avg_depth_ppm_planned"] == r["avg_depth_ppm_after"]
    assert r["rows_before"] == r["rows_after"] == 12
    # the written layout really is sorted chunks of 4
    import glob as _g

    back = sorted(
        (int(x["file_id"]), int(x["v"]))
        for x in spark.read.schema(CLUSTER_SCHEMA).parquet(path).collect()
    )
    assert back == [(f, v) for f in range(3) for v in range(4 * f + 1, 4 * f + 5)]
    dirs = sorted(_g.glob(f"{path}/file_id=*"))
    assert len(dirs) == 3
    for d in dirs:
        assert len(_g.glob(f"{d}/part-*.parquet")) == 1


def test_cluster_apply_digests_and_ties(spark, tmp_path):
    """Duplicate values straddling a file boundary: the boundary
    straddle is predicted (one shared value -> one overlapping pair)
    and membership digests survive the rewrite byte-for-byte."""
    from iceberg_diag_spark.operators.compaction import (
        cluster_apply_sorted,
    )
    from iceberg_diag_spark.operators.sampling import membership_checksums
    from pyspark.sql import functions as F2

    path = str(tmp_path / "cl2")
    # 6 rows, three of value 5 -> m=2 puts value 5 in files 1 and 2
    _write_cluster_layout(spark, path, [[5, 9], [5, 1], [5, 3]])
    pre = spark.read.schema(CLUSTER_SCHEMA).parquet(path)
    x1, x2 = membership_checksums(F2.col("row_key"))
    want = pre.agg(x1.alias("a"), x2.alias("b")).collect()[0]
    r = cluster_apply_sorted(
        spark,
        path,
        read_schema=CLUSTER_SCHEMA,
        value_col="v",
        key_col="row_key",
        rows_per_file=2,
    ).collect()[0]
    assert r["files_after"] == 3
    assert r["overlap_pairs_planned"] == r["overlap_pairs_after"] == 1
    assert r["members_xor_after"] == want["a"]
    assert r["members_xor2_after"] == want["b"]


def test_cluster_apply_keeps_null_sort_values(spark, tmp_path):
    """NULL sort values are one value, ranked first: every row is
    rewritten exactly once. An equi-join on the value drops the NULL
    rows from the rewrite, and the file ids they would have filled
    keep their old rows beside the rewritten copies (6 rows -> 7)."""
    from iceberg_diag_spark.operators.compaction import (
        cluster_apply_sorted,
    )

    path = str(tmp_path / "cl_null")
    _write_cluster_layout(spark, path, [[3, None, 1], [2, None, 4]])
    r = cluster_apply_sorted(
        spark,
        path,
        read_schema=CLUSTER_SCHEMA,
        value_col="v",
        key_col="row_key",
        rows_per_file=2,
    ).collect()[0]
    assert r["rows_before"] == r["rows_after"] == 6
    back = spark.read.schema(CLUSTER_SCHEMA).parquet(path).collect()
    assert sorted(x["row_key"] for x in back) == [
        "0|0", "0|1", "0|2", "1|0", "1|1", "1|2"
    ]
    placed = sorted(
        (int(x["file_id"]), -1 if x["v"] is None else x["v"]) for x in back
    )
    assert placed == [(0, -1), (0, -1), (1, 1), (1, 2), (2, 3), (2, 4)]


def test_cluster_apply_plan_scale_shape(spark, tmp_path):
    """The only broadcast hints in the ledger plan are
    grouped_prefix_sum's documented n_shards-bounded internals
    (range-shard edges + per-shard offsets) from its ONE call, whose
    prefix feeds both the prediction and the rewrite ranking (the
    latter behind the eager rewrite checkpoint); the row-scale and value-cardinality relations are
    never hinted, and the plan has no cartesian product or
    row-at-a-time Python."""
    from iceberg_diag_spark.operators.compaction import (
        cluster_apply_sorted,
    )
    from iceberg_diag_spark.operators.shuffling import grouped_prefix_sum
    from pyspark.sql import functions as F2

    path = str(tmp_path / "cl3")
    _write_cluster_layout(spark, path, [[1, 2], [3, 4]])
    led = cluster_apply_sorted(
        spark,
        path,
        read_schema=CLUSTER_SCHEMA,
        value_col="v",
        key_col="row_key",
        rows_per_file=2,
    )
    logical = led._jdf.queryExecution().logical().toString()
    # baseline: hints one grouped_prefix_sum call contributes
    vals = spark.createDataFrame(
        [("v", 1, 1)], "col_name string, v long, k long"
    )
    one_gps = grouped_prefix_sum(
        vals, ["col_name"], ["v"], ["k"], ["__pre"]
    )._jdf.queryExecution().logical().toString()
    assert logical.count("ResolvedHint") == one_gps.count("ResolvedHint")
    phys = led._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in phys
    assert "BatchEvalPython" not in phys


def test_compaction_rejects_stale_file_sizes(spark, tmp_path):
    """A file on disk but missing from the caller's metadata must
    abort the rewrite — an inner join would silently drop (and then
    destroy) its rows with every digest staying green."""
    from iceberg_diag_spark.operators.compaction import (
        physical_file_sizes,
    )

    path = str(tmp_path / "layout")
    _write_layout(spark, path, {"a": [[10], [20]]})
    stale = physical_file_sizes(
        spark, path, "partition_key", "file_id"
    ).filter(F.col("file_id") == 0)
    with pytest.raises(ValueError, match="does not cover"):
        _apply(spark, path, cap=1000, file_sizes=stale)


def test_compaction_partitions_batch_scopes_everything(spark, tmp_path):
    """partitions=[...] compacts only the batch; out-of-batch
    partitions are absent from the ledger and byte-untouched."""
    path = str(tmp_path / "layout")
    _write_layout(
        spark, path, {"a": [[10], [20]], "b": [[10], [20]]}
    )
    pre_md5 = _dir_md5s(path)
    led = {
        r["partition_key"]: r
        for r in _apply(spark, path, cap=1000, partitions=["a"]).collect()
    }
    assert list(led) == ["a"]
    assert led["a"]["files_after"] == 1
    post_md5 = _dir_md5s(path)
    pre_b = {k: v for k, v in pre_md5.items() if "partition_key=b" in k}
    post_b = {k: v for k, v in post_md5.items() if "partition_key=b" in k}
    assert pre_b == post_b and pre_b


def test_compaction_merges_multi_file_leaf(spark, tmp_path):
    """A leaf dir holding TWO physical files (append without the
    one-file-per-leaf discipline) is still compacted: the decision
    compares groups against the PHYSICAL count."""
    path = str(tmp_path / "layout")
    _write_layout(spark, path, {"a": [[10, 20]]})
    # append a second physical file into the same leaf
    extra = spark.createDataFrame(
        [("a|0|x", 30, 0, "a")], LAYOUT_SCHEMA
    )
    (
        extra.repartition(1)
        .write.mode("append")
        .partitionBy("partition_key", "file_id")
        .parquet(path)
    )
    led = {r["partition_key"]: r for r in _apply(spark, path, cap=1000).collect()}
    a = led["a"]
    assert a["files_before"] == 2  # physical
    assert a["groups_planned"] == 1
    assert bool(a["compacted"]) is True
    assert a["files_after"] == 1 and a["rows_after"] == 3


def test_cluster_apply_single_file_degenerate(spark, tmp_path):
    """rows_per_file >= total rows collapses the layout to ONE file:
    overlap 0, depth 1 everywhere, and plan==measured still holds at
    the degenerate boundary (ceil arithmetic, no empty trailing
    file)."""
    from iceberg_diag_spark.operators.compaction import (
        cluster_apply_sorted,
    )

    path = str(tmp_path / "cl_one")
    _write_cluster_layout(spark, path, [[7, 1], [5, 3]])
    r = cluster_apply_sorted(
        spark,
        path,
        read_schema=CLUSTER_SCHEMA,
        value_col="v",
        key_col="row_key",
        rows_per_file=100,
    ).collect()[0]
    assert r["files_before"] == 2
    assert r["files_planned"] == r["files_after"] == 1
    assert r["overlap_pairs_planned"] == r["overlap_pairs_after"] == 0
    assert r["max_depth_planned"] == r["max_depth_after"] == 1
    assert r["rows_after"] == 4
    import glob as _g

    dirs = sorted(_g.glob(f"{path}/file_id=*"))
    assert dirs == [f"{path}/file_id=0"], "stale arrival dirs survive"


def test_cluster_apply_converges_to_fixed_point(spark, tmp_path):
    """Applying the sorted rewrite to its own output is an identity
    in the stats domain: the second ledger's before == the first's
    after, its plan == its measurement, and nothing moves (the
    compaction fixed-point discipline for the sort-order twin)."""
    from iceberg_diag_spark.operators.compaction import (
        cluster_apply_sorted,
    )

    path = str(tmp_path / "cl_fix")
    _write_cluster_layout(
        spark, path, [[1, 4, 7, 10], [2, 5, 8, 11], [3, 6, 9, 12]]
    )
    kw = dict(
        read_schema=CLUSTER_SCHEMA,
        value_col="v",
        key_col="row_key",
        rows_per_file=4,
    )
    first = cluster_apply_sorted(spark, path, **kw).collect()[0]
    second = cluster_apply_sorted(spark, path, **kw).collect()[0]
    assert second["files_before"] == first["files_after"]
    assert second["overlap_pairs_before"] == first["overlap_pairs_after"]
    assert second["max_depth_before"] == first["max_depth_after"]
    assert second["avg_depth_ppm_before"] == first["avg_depth_ppm_after"]
    assert second["files_after"] == second["files_before"]
    assert second["overlap_pairs_after"] == second["overlap_pairs_before"]
    assert second["members_xor_after"] == first["members_xor_after"]
    assert second["members_xor2_after"] == first["members_xor2_after"]


def test_cluster_apply_hot_value_spans_files(spark, tmp_path):
    """A value whose duplicate count exceeds rows_per_file spans
    ceil(k/m)+ files; the spanned files pairwise overlap (C(span,2))
    and the closed-form prediction prices exactly that."""
    from iceberg_diag_spark.operators.compaction import (
        cluster_apply_sorted,
    )

    path = str(tmp_path / "cl_hot")
    # value 5 x5 + singles 1,9 -> sorted rank order 1,5,5,5,5,5,9;
    # m=2 -> files [1,5][5,5][5,5][9]: files 0-2 all hold value 5
    _write_cluster_layout(spark, path, [[5, 5, 9], [5, 5, 1], [5]])
    r = cluster_apply_sorted(
        spark,
        path,
        read_schema=CLUSTER_SCHEMA,
        value_col="v",
        key_col="row_key",
        rows_per_file=2,
    ).collect()[0]
    assert r["files_planned"] == r["files_after"] == 4
    # C(3,2) = 3 pairs among the value-5 span; file 3 is disjoint
    assert r["overlap_pairs_planned"] == r["overlap_pairs_after"] == 3
    assert r["max_depth_planned"] == r["max_depth_after"] == 3
    assert r["rows_before"] == r["rows_after"] == 7


def test_sorted_after_stats_matches_bruteforce_sweep(spark):
    """The closed-form prediction the executing clustering sink
    relies on, pitted against a pure-Python brute force over 100
    seeded random value multisets x 5 chunk sizes: chunk the sorted
    multiset into files of m, take per-file [lo, hi], and replay the
    clustering_advisor endpoint sweep exactly (closed intervals,
    starts-before-ends at equal value). Every stat must match to the
    integer: overlap pairs, max depth, the ppm floor, n_files. This
    is plan==measured without any I/O, across shapes no hand-picked
    fixture covers (hot values, all-equal, all-distinct, m=1,
    partial tails)."""
    import math
    import random

    from iceberg_diag_spark.operators.maintenance import (
        sorted_after_stats,
    )
    from iceberg_diag_spark.operators.shuffling import grouped_prefix_sum

    rng = random.Random(140814)

    def brute(counts: list[int], m: int):
        # counts[i] = multiplicity of value i (values already sorted)
        bounds = []
        rows = [v for v, k in enumerate(counts) for _ in range(k)]
        for f in range(math.ceil(len(rows) / m)):
            chunk = rows[f * m : (f + 1) * m]
            bounds.append((chunk[0], chunk[-1]))
        events = sorted(
            [(lo, 0, i) for i, (lo, _) in enumerate(bounds)]
            + [(hi, 1, i) for i, (_, hi) in enumerate(bounds)]
        )
        pairs = depth_sum = max_d = 0
        starts = ends = 0
        for _v, typ, _i in events:
            if typ == 0:
                d = starts - ends
                pairs += d
                depth_sum += d + 1
                max_d = max(max_d, d + 1)
                starts += 1
            else:
                ends += 1
        n = len(bounds)
        return {
            "n_files": n,
            "overlap_pairs_after": pairs,
            "max_depth_after": max_d,
            "avg_depth_ppm_after": math.floor(
                1_000_000.0 * depth_sum / (n * n)
            ),
        }

    for m in (1, 2, 3, 5, 8):
        cases = {}
        rows = []
        for c in range(20):
            name = f"case{c}"
            n_vals = rng.randint(1, 25)
            # hot-spot-prone counts: mostly 1s, occasional 1..3*m
            counts = [
                rng.randint(1, 3 * m) if rng.random() < 0.25 else 1
                for _ in range(n_vals)
            ]
            cases[name] = counts
            rows += [
                (name, v, k) for v, k in enumerate(counts) if k > 0
            ]
        vals = spark.createDataFrame(
            rows, "col_name string, v long, k long"
        )
        got = {
            r["col_name"]: r
            for r in sorted_after_stats(
                grouped_prefix_sum(vals, ["col_name"], ["v"], ["k"], ["__pre"]),
                m,
            ).collect()
        }
        assert set(got) == set(cases)
        for name, counts in cases.items():
            want = brute(counts, m)
            have = {k: got[name][k] for k in want}
            assert have == want, (m, name, counts, have, want)
