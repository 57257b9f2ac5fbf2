"""Write-side strategies: partition pruning on partitioned parquet,
and shuffle-free joins on co-bucketed tables — asserted from the
physical plan, not just row counts.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil

import pytest
from pyspark.sql import functions as F

from iceberg_diag_spark.sources import sinks
from iceberg_diag_spark.sources.tpch import load_table

SF_DIR = "/root/testdata/sf0.001"


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _explain(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_partitioned_write_prunes(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("part_out")) + "/events_by_type"
    events = load_table(spark, SF_DIR, "events")
    sinks.write_partitioned(events, out, ("event_type",))
    try:
        back = sinks.read_partitioned(spark, out)
        assert back.count() == events.count()
        clicks = back.filter(F.col("event_type") == "click")
        assert clicks.count() == events.filter(
            F.col("event_type") == "click"
        ).count()
        # pruning: the partition filter appears as PartitionFilters,
        # not a post-scan Filter over all data
        plan = _explain(clicks)
        assert "PartitionFilters" in plan
        assert "event_type" in plan.split("PartitionFilters", 1)[1].splitlines()[0]
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_bucketed_join_has_no_exchange(spark):
    orders = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    sinks.write_bucketed(orders, "b_orders", "o_orderkey", 8, "o_orderkey")
    sinks.write_bucketed(li, "b_lineitem", "l_orderkey", 8, "l_orderkey")
    try:
        bo = spark.table("b_orders")
        bl = spark.table("b_lineitem")
        joined = bo.join(bl, bo.o_orderkey == bl.l_orderkey).groupBy(
            "o_orderstatus"
        ).agg(F.count("*").alias("n"))
        # disable broadcast so the join strategy decision is real
        with_conf = spark.conf
        old = with_conf.get("spark.sql.autoBroadcastJoinThreshold")
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = _physical_plan(joined)
        finally:
            with_conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        # co-located buckets: the join itself needs no shuffle — any
        # Exchange in the plan belongs to the post-join groupBy, not
        # the join inputs
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        # correctness of the join itself
        want = (
            orders.join(li, orders.o_orderkey == li.l_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"))
        )
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, want.collect())
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_compact_write_hits_target_file_count(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("compact")) + "/lineitem_compacted"
    li = load_table(spark, SF_DIR, "lineitem")
    # pick a target that forces multiple files at sf0.001
    est = int(li._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    target = max(1, est // 4)
    n = sinks.compact_write(li, out, target_file_bytes=target)
    assert n >= 4
    import glob, os
    files = glob.glob(out + "/part-*.parquet")
    assert len(files) == n
    # round-robin repartition → sizes within 2x of each other
    sizes = sorted(os.path.getsize(f) for f in files)
    assert sizes[0] * 2 >= sizes[-1] or sizes[-1] < 1 << 20
    back = spark.read.parquet(out)
    assert back.count() == li.count()


def test_compact_write_single_file_when_small(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("compact1")) + "/region"
    region = load_table(spark, SF_DIR, "region")
    n = sinks.compact_write(region, out, target_file_bytes=1 << 30)
    assert n == 1


def test_compact_write_partitioned_rebalances(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("copt")) + "/events_opt"
    events = load_table(spark, SF_DIR, "events")
    # tiny advisory size → several files per partition dir, none huge
    sinks.compact_write_partitioned(
        events, out, ("event_type",), target_file_bytes=64 * 1024
    )
    import glob, os
    dirs = glob.glob(out + "/event_type=*")
    assert len(dirs) >= 3
    for d in dirs:
        files = glob.glob(d + "/part-*.parquet")
        assert files
        # rebalance honors the advisory target within 4x slack
        # (parquet encoding vs in-shuffle size estimates differ)
        assert all(os.path.getsize(f) < 4 * 64 * 1024 for f in files)
    back = sinks.read_partitioned(spark, out)
    assert back.count() == events.count()


def test_sorted_rewrite_produces_disjoint_file_ranges(spark, tmp_path):
    """The remediation loop closes: a shuffled write has heavily
    overlapping per-file ranges; sorted_rewrite on the advisor's
    column drives overlap to (near) zero — measured by the same
    clustering_advisor sweep that recommended it."""
    import glob

    from pyspark.sql import functions as F

    from iceberg_diag_spark.operators.maintenance import clustering_advisor
    from iceberg_diag_spark.sources.sinks import sorted_rewrite

    # interleaved values → every pre-rewrite file spans ~full range
    df = (
        spark.range(0, 20_000, 1, 8)
        .select((F.col("id") * 2654435761 % 100_000).alias("v"))
    )
    out = str(tmp_path / "sorted")
    n_files = sorted_rewrite(df, ("v",), out, target_file_bytes=64 * 1024)
    assert n_files >= 2

    def advisor_stats(path):
        files = sorted(glob.glob(path + "/part-*.parquet"))
        rows = []
        for i, f in enumerate(files):
            b = spark.read.parquet(f).agg(
                F.min("v").alias("lo"), F.max("v").alias("hi")
            ).collect()[0]
            rows.append(("v", i, b["lo"], b["hi"]))
        fs = spark.createDataFrame(
            rows, "col_name string, file_id long, lo long, hi long"
        )
        return clustering_advisor(fs).collect()[0]

    stats = advisor_stats(out)
    n = stats["n_files"]
    assert n >= 2
    # ranges are a total range partitioning: residual overlap only
    # from a value straddling a boundary → pairs bounded by n-1,
    # nothing like the all-overlap C(n,2) of the unsorted layout
    assert stats["overlap_pairs"] <= n - 1
    assert stats["max_depth"] <= 2

    # contrast: an unsorted round-robin write of the same data
    out2 = str(tmp_path / "unsorted")
    df.repartition(n).write.mode("overwrite").parquet(out2)
    unsorted = advisor_stats(out2)
    assert unsorted["overlap_pairs"] == unsorted["n_files"] * (unsorted["n_files"] - 1) // 2


def test_export_training_shards_deterministic(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from iceberg_diag_spark.sources.sinks import export_training_shards
    from iceberg_diag_spark.sources.tpch import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    n_docs = docs.count()
    base = tmp_path_factory.mktemp("shards")
    out1, out2 = str(base / "run1"), str(base / "run2")
    assert export_training_shards(docs, out1, n_shards=8) == 8
    export_training_shards(docs, out2, n_shards=8)

    back1 = spark.read.parquet(out1)
    # nothing lost, shard column materialized from the directory layout
    assert back1.count() == n_docs
    assert back1.select("shard").distinct().count() == 8

    # membership is a pure function of doc_id: the two runs agree
    # shard-for-shard (collect_set per shard, exact comparison)
    def members(path):
        return {
            r["shard"]: sorted(r["ids"])
            for r in spark.read.parquet(path)
            .groupBy("shard")
            .agg(F.collect_list("doc_id").alias("ids"))
            .collect()
        }

    assert members(out1) == members(out2)

    # a shard directory reads back alone (partition pruning surface)
    one = spark.read.parquet(f"{out1}/shard=3")
    assert 0 < one.count() < n_docs


# ---------------------------------------------------------------- #
# rewrite_partitions: a crash at either step boundary loses no row
# ---------------------------------------------------------------- #

LAYOUT_SCHEMA = (
    "row_key string, row_bytes long, file_id long, partition_key string"
)
CLUSTER_SCHEMA = "row_key string, v long, file_id long"
SIG_SCHEMA = "doc_id long, band int, band_key string, ch string, sb long"


class _Injected(RuntimeError):
    pass


def _write_layout(df, path, partition_cols, order_col):
    (
        df.repartition(4, *partition_cols)
        .sortWithinPartitions(*partition_cols, order_col)
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def _compaction_case(spark, root):
    """Partition 'a' packs 4 files into 2 groups (file_id=2,3 go
    stale); 'b' is a no-reduction plan and stays untouched."""
    from iceberg_diag_spark.operators.compaction import compact_apply_binpack

    path = f"{root}/layout"
    parts = {"a": [[4, 6], [8, 12], [30], [40]], "b": [[25, 25], [60]]}
    rows = [
        (f"{pk}|{fid}|{i}", s, fid, pk)
        for pk, files in parts.items()
        for fid, sizes in enumerate(files)
        for i, s in enumerate(sizes)
    ]
    _write_layout(
        spark.createDataFrame(rows, LAYOUT_SCHEMA),
        path,
        ("partition_key", "file_id"),
        "row_key",
    )

    def run():
        return compact_apply_binpack(
            spark,
            path,
            read_schema=LAYOUT_SCHEMA,
            row_size=F.col("row_bytes"),
            key=F.col("row_key"),
            order_cols=("row_key",),
            max_bytes_per_group=45,
        ).collect()

    def keys():
        rel = spark.read.schema(LAYOUT_SCHEMA).parquet(path)
        return {r[0] for r in rel.select("row_key").collect()}

    return path, run, keys


def _clustering_case(spark, root):
    """3 arrival files of 3 rows re-sorted 5 rows per file: 2 files,
    so file_id=2 goes stale."""
    from iceberg_diag_spark.operators.compaction import cluster_apply_sorted

    path = f"{root}/layout"
    files = [[1, 4, 7], [2, 5, 8], [3, 6, 9]]
    rows = [
        (f"{fid}|{i}", v, fid)
        for fid, vs in enumerate(files)
        for i, v in enumerate(vs)
    ]
    _write_layout(
        spark.createDataFrame(rows, CLUSTER_SCHEMA), path, ("file_id",), "v"
    )

    def run():
        return cluster_apply_sorted(
            spark,
            path,
            read_schema=CLUSTER_SCHEMA,
            value_col="v",
            key_col="row_key",
            rows_per_file=5,
        ).collect()

    def keys():
        rel = spark.read.schema(CLUSTER_SCHEMA).parquet(path)
        return {r[0] for r in rel.select("row_key").collect()}

    return path, run, keys


def _retraction_case(spark, root):
    """One release batch: docs 0-9 spread over shards 0-2, docs 20 and
    21 alone in shards 5 and 6. Retracting 20 and 21 empties both
    shards, so the rewrite replaces nothing and loses no surviving
    row while the drop step is still reached. In the signature store
    doc 20 is alone in sb=5 (dropped) and doc 21 shares sb=1 with
    the odd docs (rewritten)."""
    from iceberg_diag_spark.operators import funnel

    rel, sig = f"{root}/rel", f"{root}/sig"
    docs = list(range(10)) + [20, 21]
    shard = {**{d: d % 3 for d in range(10)}, 20: 5, 21: 6}
    sinks.write_assigned_shards(
        spark.createDataFrame(
            [("web", d, 10 + d, d // 2, shard[d]) for d in docs],
            f"{funnel.RELEASE_FILE_SCHEMA}, shard long",
        ),
        f"{rel}/batch=0",
        funnel.RELEASE_N_SHARDS,
        order_cols=("source", "seq_id", "doc_id"),
    )
    sb = {**{d: d % 2 for d in range(10)}, 20: 5, 21: 1}
    sinks.write_assigned_shards(
        spark.createDataFrame(
            [(d, b, f"k{d}.{b}", f"h{d}", sb[d]) for d in docs for b in (0, 1)],
            SIG_SCHEMA,
        ),
        f"{sig}/batch=0",
        funnel.RECONCILE_SIG_BUCKETS,
        shard_col="sb",
        order_cols=("band", "band_key", "doc_id"),
    )
    pairs = spark.createDataFrame(
        [(-1, -1, 0, 20, 4, True), (-1, -1, 0, 21, 4, True)],
        "batch_a long, doc_a long, batch_b long, doc_b long, "
        "n_shared_bands long, exact_dup boolean",
    )

    def run():
        return funnel.release_retraction_apply(
            spark, pairs, rel, sig_path=sig
        ).collect()

    def keys():
        docs_on_disk = spark.read.parquet(rel).select("doc_id").collect()
        sigs_on_disk = spark.read.parquet(sig).select("band_key").collect()
        return {("doc", r[0]) for r in docs_on_disk} | {
            ("sig", r[0]) for r in sigs_on_disk
        }

    return rel, run, keys


def _leaf_md5s(root: str) -> dict[str, list[str]]:
    """Leaf dir (relative to root) -> sorted md5s of its data files.
    File names carry a per-write UUID, so compare contents only."""
    out: dict[str, list[str]] = {}
    for p in glob.glob(f"{root}/**/part-*.parquet", recursive=True):
        with open(p, "rb") as f:
            digest = hashlib.md5(f.read()).hexdigest()
        out.setdefault(os.path.relpath(os.path.dirname(p), root), []).append(
            digest
        )
    return {d: sorted(v) for d, v in out.items()}


def _inject(monkeypatch, boundary: str, write_root: str) -> None:
    if boundary == "mid_delete":
        delete_paths = sinks.delete_paths

        def delete_first(spark, paths, *args, **kwargs):
            delete_paths(spark, paths[:1], *args, **kwargs)
            raise _Injected("delete step, after the first path")

        monkeypatch.setattr(sinks, "delete_paths", delete_first)
        return
    if boundary == "after_write":

        def failing_delete(*args, **kwargs):
            raise _Injected("delete step")

        monkeypatch.setattr(sinks, "delete_paths", failing_delete)
        return
    from pyspark.sql.readwriter import DataFrameWriter

    orig = DataFrameWriter.parquet

    def failing_write(self, path, *args, **kwargs):
        if path == write_root or path.startswith(write_root + "/"):
            raise _Injected("write step")
        return orig(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_write)


_CASES = {
    "compaction": _compaction_case,
    "clustering": _clustering_case,
    "retraction": _retraction_case,
}


@pytest.mark.parametrize("boundary", ["after_write", "at_write", "mid_delete"])
@pytest.mark.parametrize("sink", list(_CASES))
def test_rewrite_crash_loses_no_row(spark, tmp_path, monkeypatch, sink, boundary):
    """rewrite_partitions writes before it deletes: a failure at the
    delete step leaves duplicates, a failure at the write leaves the
    layout as it was — in both cases every distinct row key is still
    on disk (key sets, not XOR digests: a duplicate cancels out of an
    XOR). A failure midway through the drop batch has deleted one
    stale leaf: every key the uninterrupted run keeps is still on
    disk. Compaction and clustering re-runs keep the duplicates; a
    retraction re-run heals to the uninterrupted result."""
    root = str(tmp_path / "run")
    write_root, run, keys = _CASES[sink](spark, root)
    keys_before, leaves_before = keys(), _leaf_md5s(root)

    _inject(monkeypatch, boundary, write_root)
    with pytest.raises(_Injected):
        run()
    if boundary == "mid_delete":
        monkeypatch.undo()
        _, clean_run, clean_keys = _CASES[sink](spark, str(tmp_path / "kept"))
        clean_run()
        assert keys() >= clean_keys()
    else:
        assert keys() == keys_before
    if boundary == "at_write":
        assert set(leaves_before) <= set(_leaf_md5s(root))

    if sink == "retraction":
        monkeypatch.undo()
        rerun = run()
        _, clean_run, _ = _CASES[sink](spark, str(tmp_path / "clean"))
        clean = clean_run()
        assert _leaf_md5s(root) == _leaf_md5s(str(tmp_path / "clean"))

        def after(ledger):
            return [
                {k: v for k, v in r.asDict().items() if k.endswith("_after")}
                for r in ledger
            ]

        assert after(rerun) == after(clean)


def _ledger_sites(pkg=None) -> dict[str, set[str]]:
    """Top-level function (``module:function``) of every place under
    operators/, sources/, streaming/ and plans/ that writes a piece of
    the layout ledger out: a membership_checksums call, an eqNullSafe
    manifest comparison, an ``"anti"`` id-removal join (funnel.py and
    sinks.py), a PATH_NOT_FOUND test, and an ``except
    AnalysisException`` handler that swallows the error (no raise)."""
    import ast
    import pathlib

    import iceberg_diag_spark

    pkg = pathlib.Path(pkg or pathlib.Path(iceberg_diag_spark.__file__).parent)
    sites: dict[str, set[str]] = {
        "membership_checksums": set(), "manifest_check": set(),
        "id_removal": set(), "path_not_found": set(),
        "swallowed_analysis_error": set(),
    }

    def ident(n):
        return getattr(n, "attr", None) or getattr(n, "id", None)

    for sub in ("operators", "sources", "streaming", "plans"):
        for path in sorted((pkg / sub).glob("*.py")):
            tree = ast.parse(path.read_text())
            for top in tree.body:
                where = f"{path.stem}:{getattr(top, 'name', '<module>')}"
                for n in ast.walk(top):
                    if isinstance(n, ast.Call):
                        name = ident(n.func)
                        if name == "membership_checksums":
                            sites["membership_checksums"].add(where)
                        if name == "eqNullSafe":
                            sites["manifest_check"].add(where)
                        if (
                            name == "join"
                            and path.stem in ("funnel", "sinks")
                            and any(
                                getattr(a, "value", None) == "anti"
                                for a in n.args
                            )
                        ):
                            sites["id_removal"].add(where)
                    if getattr(n, "value", None) == "PATH_NOT_FOUND":
                        sites["path_not_found"].add(where)
                    if (
                        isinstance(n, ast.ExceptHandler)
                        and ident(n.type) == "AnalysisException"
                        and not any(
                            isinstance(b, ast.Raise)
                            for s in n.body
                            for b in ast.walk(s)
                        )
                    ):
                        sites["swallowed_analysis_error"].add(where)
    return sites


def test_layout_ledger_written_once():
    """The layout ledger is written once: the count + digest aggregate
    (sampling.membership_manifest), the published-vs-delivered check
    (sinks.check_manifest), the id-removal rewrite (sinks.remove_ids)
    and the absent-batch-dir rule (funnel._read_if_present), which
    swallows no other analysis error."""
    assert _ledger_sites() == {
        "membership_checksums": {"sampling:membership_manifest"},
        "manifest_check": {"sinks:check_manifest"},
        "id_removal": {"sinks:remove_ids"},
        "path_not_found": {"funnel:_read_if_present"},
        "swallowed_analysis_error": set(),
    }
