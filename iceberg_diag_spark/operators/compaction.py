"""Executing small-file compaction — the reference's own remediation,
applied (advisor-executing pattern #10).

The reference DIAGNOSES small-file debt and SIMULATES the 750 MiB
check-before-append remediation per partition
(``icebergdiag/metrics/table_metrics.py:111-155,179-197``): bin-pack
each partition's DATA file sizes, report predicted after_file_count /
after_scan_overhead, and the improvement ratio. It never rewrites a
byte. ``sinks.compact_write`` rewrites, but only to a uniform size
target — not the plan the diagnostics priced. This module closes the
loop: EXECUTE the exact group plan A9 produces (one physical output
file per bin-pack group, ``binpack.pack_sizes`` semantics,
``binpack.py:43-60``), surgically (a partition whose plan shows no
file-count reduction is never read twice, never rewritten — its
bytes on disk stay identical, the retraction-sink discipline), then
re-derive the diagnostics FROM THE WRITTEN FILES so predicted-after
is checked against measured-after instead of trusted.

Scale shape (100 TB):
- Pack decisions run on file METADATA (one row per file — the
  Iceberg ``.files`` relation in production, a per-file aggregate of
  the data here), never on data rows: the assignment fold
  (``parallel.fold_by_key``) shuffles #files rows, not the table.
- The data-side rewrite is ONE partition-pruned scan of the affected
  partitions, one join against the file→group assignment (metadata
  scale, stats-driven — no broadcast hint; Catalyst broadcasts it at
  test scale and is free to shuffle at 1e8-file scale), one
  repartition on (partition, group) — each group lands wholly in one
  task, so partitionBy emits exactly ONE file per group — landed by
  ``sinks.rewrite_partitions`` (stage, dynamic overwrite, then drop
  the stale leaf dirs). Untouched partitions are never opened.
- The ledger re-reads ONLY the rewritten partitions (pruned
  predicate); untouched partitions' after-state IS their
  before-state from the pre-pass over the same bytes (per-partition
  digests and counts vouch, the release_retraction_apply idiom).
- Bounded driver state: one collect of per-partition decision rows
  (#partitions, metadata scale), exactly like the retraction sink.
- Staging cost: rewrite_partitions stages ALL affected partitions at
  once, so a whole-table compaction stages the whole table. At that
  scale, run the sink over partition batches
  (``compact_apply_binpack(..., partitions=[...])`` scopes the scan,
  plan, rewrite, AND staging copy to the batch; everything outside is
  never read) or stage to a sibling directory and swap.
"""

from __future__ import annotations

from urllib.parse import unquote

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from iceberg_diag_spark.functions.cost import (
    MAX_GROUP_BYTE_SIZE,
    read_file_cost,
)
from iceberg_diag_spark.functions.parallel import (
    fold_by_key,
    join_null_safe,
    materialize,
)
from iceberg_diag_spark.operators.binpack import pack_keys
from iceberg_diag_spark.operators.sampling import membership_checksums
from iceberg_diag_spark.sources.sinks import rewrite_partitions

LEDGER_COLUMNS = [
    "partition_key",
    "files_before",
    "rows_before",
    "size_before",
    "scan_overhead_before",
    "groups_planned",
    "scan_overhead_planned",
    "compacted",
    "files_after",
    "rows_after",
    "size_after",
    "scan_overhead_after",
    "members_xor_after",
    "members_xor2_after",
]


def binpack_assign(
    file_sizes: DataFrame,
    partition_col: str = "partition_key",
    file_col: str = "file_id",
    size_col: str = "logical_size",
    max_bytes_per_group: int = MAX_GROUP_BYTE_SIZE,
) -> DataFrame:
    """File → bin-pack group assignment: every input row (one per
    file) plus ``gid``, the group it lands in — WHICH group each file
    lands in, not just the group profile ``binpack_groups`` emits.

    Same fold as ``pack_sizes`` (check-before-append, ascending, via
    ``binpack.pack_keys``) with a (size, file_id) tie-break so
    membership is deterministic under any input order; the group
    (count, total) profile is tie-invariant and equals pack_sizes'
    (property-pinned in tests). Input is file metadata — one row per
    file — so the ``fold_by_key`` pass is metadata-scale, parallel
    across partitions exactly like binpack_groups.
    """
    schema = to_arrow_schema(file_sizes.schema).append(pa.field("gid", pa.int64()))

    def _assign(batch, starts):
        _, rank, count, _ = pack_keys(
            batch.column(size_col).to_numpy(), starts, max_bytes_per_group
        )
        gid = np.repeat(rank, count)
        return pa.RecordBatch.from_arrays(batch.columns + [gid], schema=schema)

    return fold_by_key(
        file_sizes, [partition_col], [size_col, file_col], _assign, schema
    )


def _hive_values(path: str) -> dict[str, str | None]:
    """The ``col=value`` segments of a Hive layout path, as a Spark
    read returns them: %XX-unescaped (Hive escapes special chars in
    dir names, so an escaped value would miss every join) and the
    default-partition dir name as None, the NULL partition."""
    out = {}
    for seg in path.split("/"):
        col, eq, val = seg.partition("=")
        if eq:
            val = unquote(val)
            out[unquote(col)] = None if val == "__HIVE_DEFAULT_PARTITION__" else val
    return out


def _member(col: str, values: list) -> Column:
    """Null-safe ``col IN values``: never NULL, and true on a NULL
    value when None is listed — ``isin`` never matches the NULL
    partition. No ``IN ()`` over an empty list: ``NULL IN ()`` is
    false, not NULL, so it would dodge a coalesce."""
    known = [v for v in values if v is not None]
    cond = F.coalesce(F.col(col).isin(known), F.lit(False)) if known else F.lit(False)
    return cond | F.col(col).isNull() if None in values else cond


def physical_file_sizes(
    spark: SparkSession, path: str, partition_col: str, file_col: str
) -> DataFrame:
    """(partition, file, size_in_bytes, n_phys) from a recursive
    Hadoop FS listing of a two-level Hive layout
    ``{partition_col}=P/{file_col}=K/part-*.parquet``.

    Test/driver-scale helper: on a production Iceberg table this
    relation is the ``.files`` metadata table (SURVEY §2 S4) — never
    a filesystem walk. The listing is driver-side but file-count
    (metadata) scale, and works on any Hadoop filesystem.
    """
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    agg: dict[tuple[str | None, int], list[int]] = {}
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if not st.isFile() or name.startswith(("_", ".")):
            continue
        kv = _hive_values(st.getPath().toString())
        if partition_col not in kv or kv.get(file_col) is None:
            continue
        cur = agg.setdefault((kv[partition_col], int(kv[file_col])), [0, 0])
        cur[0] += int(st.getLen())
        cur[1] += 1
    return spark.createDataFrame(
        [(p, f, s, n) for (p, f), (s, n) in agg.items()],
        f"{partition_col} string, {file_col} long, size_in_bytes long,"
        " n_phys long",
    )


def _per_file_stats(
    rel: DataFrame, keys: list[str], key: Column, *extra: Column
) -> DataFrame:
    """Per-file aggregate behind both sinks' before and after passes:
    row count, the caller's ``extra`` aggregates, physical file count
    (distinct input_file_name) and the two membership digests of
    ``key`` (x1, x2), grouped by ``keys``."""
    x1, x2 = membership_checksums(key)
    # input_file_name is non-deterministic for the analyzer —
    # project it before aggregating over it.
    return (
        rel.withColumn("_phys_file", F.input_file_name())
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            *extra,
            F.countDistinct("_phys_file").cast("long").alias("n_phys"),
            x1.alias("x1"),
            x2.alias("x2"),
        )
    )


def _leaf_dirs(
    spark: SparkSession,
    path: str,
    partition_col: str | None,
    file_col: str,
) -> list[tuple[str | None, int, str]]:
    """(unescaped partition value, file id, real directory URI) for
    every ``{partition_col}=P/{file_col}=K`` leaf under ``path`` (or
    every root-level ``{file_col}=K`` dir when partition_col is None)
    — the safe way to DELETE layout dirs: interpolating an unescaped
    partition value into a path string misses any Hive-escaped dir
    name, so deletions are driven by the listing instead. Driver-side
    but directory-count (metadata) scale."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())

    def _children(parent, col):
        for st in fs.listStatus(parent):
            kv = _hive_values(st.getPath().getName())
            if st.isDirectory() and col in kv:
                yield kv[col], st.getPath()

    parents = [(None, root)] if partition_col is None else _children(
        root, partition_col
    )
    return [
        (pval, int(fid), fpath.toString())
        for pval, ppath in parents
        for fid, fpath in _children(ppath, file_col)
    ]


def compact_apply_binpack(
    spark: SparkSession,
    path: str,
    read_schema: str,
    row_size: Column,
    key: Column,
    partition_col: str = "partition_key",
    file_col: str = "file_id",
    order_cols: tuple[str, ...] = (),
    file_sizes: DataFrame | None = None,
    max_bytes_per_group: int = MAX_GROUP_BYTE_SIZE,
    partitions: list[str] | None = None,
) -> DataFrame:
    """Execute the bin-pack compaction plan against the layout at
    ``path`` and return a per-partition predicted-vs-measured ledger.
    ``partitions`` restricts the whole call (scan, plan, rewrite,
    ledger) to that batch of partition values — the staging-cost
    lever from the module docstring; everything outside the batch is
    never read, never written.

    The layout is ``{partition_col}=P/{file_col}=K`` Hive dirs — one
    physical file per (partition, file) leaf, the write discipline of
    every sink here. ``read_schema`` is explicit per the fileless-dir
    lesson (schema inference dies on an empty partition dir).

    File sizes driving the plan: ``file_sizes`` (partition, file,
    size_in_bytes) when given — REAL bytes from
    ``physical_file_sizes`` or the Iceberg ``.files`` relation, in
    which case the measured after-overhead comes from a fresh
    post-write listing — else the per-file sum of ``row_size`` (a
    logical per-row byte estimate), which keeps the whole ledger
    cross-engine checkable: every output column is then a
    deterministic function of the table rows, so a DuckDB oracle can
    predict what the engine MEASURES from disk. A hash-green row
    certifies the physical rewrite, not just the plan: files_after
    counts real post-write files (input_file_name), and the
    membership digests are re-aggregated from the rewritten bytes.

    Execution (per the module docstring's scale shape): ONE pre-pass
    scan aggregates per-file stats + digests, the assignment fold
    runs on that metadata, partitions whose plan shows no reduction
    (groups == files) are LEFT ON DISK UNTOUCHED, and the rest are
    rewritten one-file-per-group via repartition(partition, gid) +
    partitionBy — then re-read, partition-pruned, for the measured
    after-state. Re-running CONVERGES rather than replays as a no-op:
    every closed group's total already exceeds the cap, but a
    partition's LAST group may be under-cap and re-merge with one
    neighbor on the next pass (check-before-append admits it), so a
    re-run can reduce the file count once more; within two further
    passes every file exceeds the cap or stands alone and the layout
    is a fixed point (convergence pytest-pinned).

    Output: one row per partition, ``LEDGER_COLUMNS`` — before
    (files/rows/bytes/scan-overhead), planned (groups + predicted
    overhead under the reference cost model, ``read_file_cost``),
    and measured-after (real file count, re-read rows/bytes/digests;
    untouched partitions vouched by the pre-pass), ordered by
    partition. scan_overhead_* columns use the SAME size basis the
    plan used, so predicted-vs-measured is apples-to-apples.
    """
    if max_bytes_per_group <= 0:
        raise ValueError("max_bytes_per_group must be positive")
    pre = spark.read.schema(read_schema).parquet(path)
    if partitions is not None:
        if not partitions:
            raise ValueError("partitions batch must be non-empty")
        pre = pre.filter(_member(partition_col, list(partitions)))

    def _file_stats(rel: DataFrame) -> DataFrame:
        return _per_file_stats(
            rel,
            [partition_col, file_col],
            key,
            F.sum(row_size).cast("long").alias("row_bytes"),
        )

    # ONE scan: per-file stats + per-partition digests. Eager — every
    # downstream decision must not re-read files the rewrite replaces.
    per_file = materialize(_file_stats(pre), eager=True)
    if file_sizes is not None:
        meta = file_sizes.select(
            partition_col, file_col, F.col("size_in_bytes").alias("fsz")
        )
        # A file ON DISK but missing from the caller's metadata must
        # abort, not silently drop: an inner join would exclude it
        # from the plan AND from `kept`, so the rewrite would destroy
        # its rows while every ledger digest stays green (stale
        # .files snapshot = data loss). The check is metadata-scale.
        uncovered = (
            join_null_safe(per_file, meta, [partition_col, file_col], "left_anti")
            .select(partition_col, file_col)
            .limit(5)
            .collect()
        )
        if uncovered:
            raise ValueError(
                "file_sizes does not cover the layout on disk — "
                "refusing to plan a rewrite from stale metadata; "
                "first uncovered files: "
                + ", ".join(
                    f"({r[partition_col]}, {r[file_col]})" for r in uncovered
                )
            )
        sized = materialize(join_null_safe(
            per_file, meta, [partition_col, file_col]
        ), eager=True)
    else:
        sized = per_file.withColumn("fsz", F.col("row_bytes"))

    asg = binpack_assign(
        sized,
        partition_col=partition_col,
        file_col=file_col,
        size_col="fsz",
        max_bytes_per_group=max_bytes_per_group,
    )
    # Per group, then per partition: the planned overhead prices each
    # group's byte total, every other column sums over its files.
    per_group = asg.groupBy(partition_col, "gid").agg(
        F.count(F.lit(1)).alias("files"),
        F.sum("n_phys").alias("phys"),
        F.sum("n_rows").alias("rows"),
        F.sum("row_bytes").alias("bytes"),
        F.sum(read_file_cost("fsz")).alias("cost"),
        F.sum("fsz").alias("gsz"),
        F.bit_xor("x1").alias("x1"),
        F.bit_xor("x2").alias("x2"),
    )
    plan = materialize(
        per_group.groupBy(partition_col).agg(
            F.sum("files").cast("long").alias("files_before"),
            F.sum("phys").cast("long").alias("phys_before"),
            F.sum("rows").cast("long").alias("rows_before"),
            F.sum("bytes").cast("long").alias("size_before"),
            F.sum("cost").cast("long").alias("scan_overhead_before"),
            F.count(F.lit(1)).cast("long").alias("groups_planned"),
            F.bit_xor("x1").alias("bx1"),
            F.bit_xor("x2").alias("bx2"),
            F.sum(read_file_cost("gsz"))
            .cast("long")
            .alias("scan_overhead_planned"),
        ),
        eager=True,
    )

    # Decision rows: metadata-bounded collect (#partitions), the
    # retraction sink's discipline. The decision compares groups
    # against the PHYSICAL file count (what the ledger reports and
    # the cost model prices): a leaf dir holding two physical files
    # still shrinks when merged even if its logical file count
    # equals the group count.
    decisions = plan.select(
        partition_col, "phys_before", "groups_planned"
    ).collect()
    groups_of = {
        r[partition_col]: int(r["groups_planned"])
        for r in decisions
        if r["groups_planned"] < r["phys_before"]
    }
    todo = list(groups_of)
    if todo:
        data_cols = [
            f.name
            for f in pre.schema.fields
            if f.name not in (partition_col, file_col)
        ]
        kept = join_null_safe(
            pre.filter(_member(partition_col, todo)),
            asg.select(partition_col, file_col, "gid"),
            [partition_col, file_col],
        ).select(
            *data_cols,
            F.col("gid").cast("long").alias(file_col),
            partition_col,
        )
        # gids are contiguous 0..k-1 and every group is non-empty, so
        # the write replaces exactly those leaf dirs and the stale
        # ones are the ids >= k. Stale dirs come from a real directory
        # listing, not from interpolating partition values into path
        # strings — a Hive-escaped dir name (':', '%', '=', ... in the
        # value) would never match an interpolated path and the stale
        # files would double-count in the after-state.
        rewrite_partitions(
            spark,
            kept,
            path,
            (partition_col, file_col),
            sum(groups_of.values()),
            order_cols,
            [
                uri
                for pval, fid, uri in _leaf_dirs(
                    spark, path, partition_col, file_col
                )
                if pval in groups_of and fid >= groups_of[pval]
            ],
        )

    # Measured after-state: rewritten partitions re-read FROM THE
    # WRITTEN FILES (pruned); untouched partitions reuse the pre-pass
    # row — same bytes on disk, byte-identity pytest-pinned.
    untouched = plan
    if todo:
        untouched = plan.filter(~_member(partition_col, todo))
    after = untouched.select(
        partition_col,
        F.col("phys_before").alias("files_after"),
        F.col("rows_before").alias("rows_after"),
        F.col("size_before").alias("size_after"),
        F.col("scan_overhead_before").alias("scan_overhead_after"),
        F.col("bx1").alias("members_xor_after"),
        F.col("bx2").alias("members_xor2_after"),
    )
    if todo:
        post = _file_stats(
            spark.read.schema(read_schema)
            .parquet(path)
            .filter(_member(partition_col, todo))
        )
        if file_sizes is not None:
            relisted = physical_file_sizes(
                spark, path, partition_col, file_col
            ).filter(_member(partition_col, todo))
            post = join_null_safe(
                post,
                relisted.select(
                    partition_col,
                    file_col,
                    F.col("size_in_bytes").alias("fsz"),
                ),
                [partition_col, file_col],
            )
        else:
            post = post.withColumn("fsz", F.col("row_bytes"))
        measured = post.groupBy(partition_col).agg(
            F.sum("n_phys").cast("long").alias("files_after"),
            F.sum("n_rows").cast("long").alias("rows_after"),
            F.sum("row_bytes").cast("long").alias("size_after"),
            F.sum(read_file_cost("fsz"))
            .cast("long")
            .alias("scan_overhead_after"),
            F.bit_xor("x1").alias("members_xor_after"),
            F.bit_xor("x2").alias("members_xor2_after"),
        )
        after = after.unionByName(measured)

    return join_null_safe(
        plan.select(
            partition_col,
            F.col("phys_before").alias("files_before"),
            "rows_before",
            "size_before",
            "scan_overhead_before",
            "groups_planned",
            "scan_overhead_planned",
            (F.col("groups_planned") < F.col("phys_before")).alias(
                "compacted"
            ),
        ),
        after,
        [partition_col],
    ).orderBy(partition_col)


def cluster_apply_sorted(
    spark: SparkSession,
    path: str,
    read_schema: str,
    value_col: str,
    key_col: str,
    file_col: str = "file_id",
    rows_per_file: int = 4096,
) -> DataFrame:
    """Execute the sort-order remediation the skip diagnostics only
    price, and return a one-row predicted-vs-measured ledger.

    clustering_advisor ranks WHICH column a sort-order rewrite should
    target and skip_simulation prices it (the reference's
    before/after-improvement idiom applied to data skipping);
    sinks.sorted_rewrite performs A sorted rewrite — but via
    repartitionByRange's sampled boundaries, which no closed form can
    predict and no hash oracle can check. This sink instead
    materializes EXACTLY the layout the simulation models: rows in
    global ``value_col`` order, chunked ``rows_per_file`` per file —
    so the simulation's closed-form after-stats are the PREDICTION
    and the endpoint sweep over the WRITTEN files' min/max bounds is
    the MEASUREMENT, equal when and only when the rewrite did what
    the model says.

    Distributed ranking (no global single-task window, SCALING §4):
    per-value counts → grouped_prefix_sum gives each value's starting
    rank; a per-value row_number (window bounded by the duplicate
    count of one value — the same ceiling the simulation's model
    already has: a hot low-cardinality value makes rank order within
    it arbitrary AND its window big; pick high-cardinality sort
    columns) finishes the total order. The rewrite joins rows to the
    value-rank base (value-cardinality scale, stats-driven, no hint),
    repartitions on the target file id — one task per file, one
    physical file per leaf dir — through sinks.rewrite_partitions. A
    global re-sort rewrites every file by nature — there is no
    untouched-partition shortcut here; the after-state is re-read
    entirely from the written files (bounds, rows, digests), and the
    staging copy is likewise the whole table (range-partition the
    value domain and run per-range calls to bound it).

    Output, one row: files/rows/overlap_pairs/max_depth/avg_depth_ppm
    before (measured from the layout on disk), the planned after
    (sorted_after_stats closed form), and the measured after (the
    clustering_advisor sweep over the written bounds + re-aggregated
    membership digests).
    """
    from iceberg_diag_spark.operators.maintenance import (
        clustering_advisor,
        sorted_after_stats,
    )
    from iceberg_diag_spark.operators.shuffling import grouped_prefix_sum
    from pyspark.sql.window import Window

    if rows_per_file <= 0:
        raise ValueError("rows_per_file must be positive")
    m = rows_per_file
    pre = spark.read.schema(read_schema).parquet(path)

    def _per_file(rel: DataFrame) -> DataFrame:
        return _per_file_stats(
            rel,
            [file_col],
            F.col(key_col),
            F.min(value_col).cast("long").alias("lo"),
            F.max(value_col).cast("long").alias("hi"),
        )

    def _sweep(per_file: DataFrame) -> DataFrame:
        return clustering_advisor(
            per_file.select(
                F.lit("v").alias("col_name"), file_col, "lo", "hi"
            )
        ).select(
            F.lit(1).alias("_k"),
            F.col("n_files"),
            "overlap_pairs",
            "max_depth",
            "avg_depth_ppm",
        )

    # ONE metadata pre-pass over the input (bounds + digests), eager:
    # the rewrite below replaces every file it was computed from.
    bef_files = materialize(_per_file(pre), eager=True)
    bef = _sweep(bef_files).join(
        bef_files.agg(
            F.sum("n_rows").cast("long").alias("rows_before"),
            F.sum("n_phys").cast("long").alias("phys_before"),
        ).select(F.lit(1).alias("_k"), "rows_before", "phys_before"),
        "_k",
    )

    # per-value counts: read three times by the prefix
    vals = materialize(
        pre.groupBy(F.col(value_col).alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
        .select(F.lit("v").alias("col_name"), "v", "k"),
        eager=True,
    )
    # Global rank = value's exclusive prefix + intra-value row_number;
    # target file = (rank-1) DIV m (contiguous 0..F-1, every file
    # non-empty). The prefix feeds the prediction and the rewrite.
    base = grouped_prefix_sum(vals, ["col_name"], ["v"], ["k"], ["__pre"])
    planned = sorted_after_stats(base, m).select(
        F.lit(1).alias("_k"),
        F.col("n_files").alias("files_planned"),
        F.col("overlap_pairs_after").alias("overlap_pairs_planned"),
        F.col("max_depth_after").alias("max_depth_planned"),
        F.col("avg_depth_ppm_after").alias("avg_depth_ppm_planned"),
    )

    data_cols = [
        f.name for f in pre.schema.fields if f.name != file_col
    ]
    iw = Window.partitionBy(value_col).orderBy(key_col)
    # null-safe: the NULL sort value is one value (ranked first), and
    # an equi-join would drop its rows from the rewrite
    ranked = (
        join_null_safe(
            pre.select(*data_cols),
            base.select(F.col("v").alias(value_col), "__pre"),
            [value_col],
        )
        .withColumn(
            "__rank", F.col("__pre") + F.row_number().over(iw)
        )
        .select(
            *data_cols,
            ((F.col("__rank") - 1) / m).cast("long").alias(file_col),
        )
    )
    n_rows_total = int(
        bef_files.agg(F.sum("n_rows")).collect()[0][0] or 0
    )
    n_files_new = -(-n_rows_total // m)  # ceil; ranks are contiguous
    # Listing-driven stale-dir drops (same idiom as the bin-pack
    # sink): file ids are integers so interpolation would happen to
    # work, but the listing keeps both sinks on the one safe pattern.
    rewrite_partitions(
        spark,
        ranked,
        path,
        (file_col,),
        max(1, n_files_new),
        (value_col, key_col),
        [
            uri
            for _pval, fid, uri in _leaf_dirs(spark, path, None, file_col)
            if fid >= n_files_new
        ],
    )

    # Measured after-state: entirely from the written files. Two
    # consumers (the sweep, the total/digest aggregate).
    post_files = materialize(_per_file(
        spark.read.schema(read_schema).parquet(path)
    ))
    aft = _sweep(post_files).join(
        post_files.agg(
            F.sum("n_rows").cast("long").alias("rows_after"),
            F.sum("n_phys").cast("long").alias("phys_after"),
            F.bit_xor("x1").alias("members_xor_after"),
            F.bit_xor("x2").alias("members_xor2_after"),
        ).select(
            F.lit(1).alias("_k"),
            "rows_after",
            "phys_after",
            "members_xor_after",
            "members_xor2_after",
        ),
        "_k",
    )

    return (
        bef.select(
            "_k",
            F.col("phys_before").alias("files_before"),
            "rows_before",
            F.col("overlap_pairs").alias("overlap_pairs_before"),
            F.col("max_depth").alias("max_depth_before"),
            F.col("avg_depth_ppm").alias("avg_depth_ppm_before"),
        )
        .join(planned, "_k")
        .join(
            aft.select(
                "_k",
                F.col("phys_after").alias("files_after"),
                "rows_after",
                F.col("overlap_pairs").alias("overlap_pairs_after"),
                F.col("max_depth").alias("max_depth_after"),
                F.col("avg_depth_ppm").alias("avg_depth_ppm_after"),
                "members_xor_after",
                "members_xor2_after",
            ),
            "_k",
        )
        .drop("_k")
    )
