"""Write-side surface: partitioned parquet sinks and bucketed tables.

The reference's only sink is a console table (SURVEY §2 S7); a real
lakehouse engine also needs the write strategies that make 100 TB
reads cheap:

- Hive-style partitioned parquet (`partitionBy`): partition pruning
  turns predicate scans into directory listings — a filter on the
  partition column never touches excluded files.
- Bucketed + sorted tables (`bucketBy`/`sortBy` + saveAsTable): joins
  and aggregations on the bucket key read co-located buckets and skip
  the exchange entirely (verified in tests: the joined plan contains
  no Exchange on the bucketed key).
- In-place partition rewrites (`rewrite_partitions`): the stage →
  dynamic overwrite → drop sequence every executing sink shares;
  `remove_ids` and `check_manifest` remove ids and check a delivery.

All are thin wrappers so callers state intent, not mechanics.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from iceberg_diag_spark.functions.parallel import materialize


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...],
) -> None:
    """Write df as Hive-partitioned parquet. Partition columns should
    be low-cardinality (directories per distinct value); readers get
    partition pruning on them for free."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read back a partitioned dataset (partition columns are
    reconstructed from the directory layout)."""
    return spark.read.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
) -> None:
    """Persist df as a bucketed (and optionally sorted) managed
    table. Two tables bucketed the same way on the join key join
    WITHOUT a shuffle — the pre-shuffle is paid once at write time,
    amortized across every subsequent join/agg on that key (the
    canonical strategy for repeatedly-joined 100 TB fact tables)."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)


def compact_write(
    df: DataFrame,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file remediation: rewrite `df` as parquet in files near
    `target_file_bytes`. Executes the rewrite whose benefit
    diag_metrics quantifies (the reference only *reports* the
    before/after improvement ratio, icebergdiag/diagnostics/
    manager.py; an engine should also be able to perform it).

    File count comes from Catalyst's optimized-plan size estimate
    (compressed-source bytes; no extra scan, no driver collect), then
    one round-robin repartition — a single full-width exchange, the
    unavoidable minimum for re-packing — writes evenly-sized files.
    `maxRecordsPerFile` is deliberately not used: it caps rows per
    file but still emits one file per task, so skewed tasks still
    write small files. Returns the file count written."""
    if target_file_bytes <= 0:
        raise ValueError("target_file_bytes must be positive")
    est_bytes = int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    n_files = max(1, -(-est_bytes // target_file_bytes))
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return n_files


def compact_write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...],
    target_file_bytes: int = 128 * 1024 * 1024,
) -> None:
    """Partition-aware compaction: Hive-partitioned parquet whose
    files inside each partition directory are near
    `target_file_bytes` — the OPTIMIZE pattern for partitioned
    tables. Uses AQE's REBALANCE hint (runtime-statistics-driven:
    splits oversized shuffle partitions AND coalesces undersized
    ones per partition value) instead of a static repartition count,
    so skewed partition values get more files rather than one huge
    one. The advisory size is scoped to this write and restored."""
    spark = df.sparkSession
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(target_file_bytes))
    try:
        (
            df.hint("rebalance", *partition_cols)
            .write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(path)
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def sorted_rewrite(
    df: DataFrame,
    sort_cols: tuple[str, ...],
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Sort-order rewrite — executes the remediation
    clustering_advisor recommends and diag_skip_simulation
    quantifies: rewrite the data range-partitioned AND sorted by the
    clustering column(s), so file min/max ranges become (nearly)
    disjoint and data-skipping works from the next query on.

    repartitionByRange assigns rows to tasks by sampled range
    boundaries of the sort key (a total range partitioning — file N's
    ranges all precede file N+1's), and sortWithinPartitions finishes
    the per-file ordering so parquet row-group stats are tight too.
    One range exchange + per-task sort, the unavoidable minimum for a
    clustering rewrite; no global single-task sort anywhere. File
    count from the optimizedPlan size estimate, as compact_write.
    Residual overlap after the rewrite is bounded by one value
    straddling each file boundary — exactly the closed-form model
    diag_skip_simulation uses. Returns the file count written.
    """
    if not sort_cols:
        raise ValueError("sort_cols must be non-empty")
    if target_file_bytes <= 0:
        raise ValueError("target_file_bytes must be positive")
    est_bytes = int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    n_files = max(1, -(-est_bytes // target_file_bytes))
    (
        df.repartitionByRange(n_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(path)
    )
    return n_files


def export_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 16,
) -> int:
    """Export a curated corpus as deterministic training shards — the
    dataloader-facing end of the pipeline (WebDataset/Mosaic-style:
    fixed shard membership, seeded intra-shard order, so every rank
    of a training job can map shard → worker without coordination
    and a re-run of the export is byte-stable).

    Shard membership is pmod(xxhash64(id, 42), n_shards) — the same
    salted-hash idiom as the stratified split, so membership is
    reproducible from the id alone (no global sort, no collect);
    intra-shard order is a second independent hash, giving each shard
    a deterministic shuffle of its members (the epoch_shuffle
    contract at write time). One hash repartition co-locates each
    shard; partitionBy lays shards out as prunable directories.

    Returns n_shards. Read a single shard back with
    ``spark.read.parquet(f"{path}/shard={k}")``.
    """
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    shard = F.pmod(F.xxhash64(F.col("doc_id"), F.lit(42)), F.lit(n_shards))
    order = F.xxhash64(F.col("doc_id"), F.lit(43))
    (
        df.withColumn("shard", shard)
        .withColumn("__ord", order)
        .repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "__ord")
        .drop("__ord")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    return n_shards


def write_assigned_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    shard_col: str = "shard",
    order_cols: tuple[str, ...] = ("doc_id",),
) -> None:
    """Materialize a relation that already CARRIES its shard
    assignment (e.g. funnel.release_assignments, where membership is a
    deterministic md5 bucket of the doc id) as prunable shard=K
    parquet directories — the export_training_shards layout, minus the
    hash assignment that function computes itself.

    One hash repartition on the shard column co-locates each shard
    into one task; sortWithinPartitions gives every shard file a
    deterministic row order, so a re-run of the same release is
    byte-stable (the manifest's membership digests are order-free, but
    byte-stable files make releases diffable). Rewriting some shards
    of an existing layout in place is rewrite_partitions' job.
    """
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    (
        df.repartition(n_shards, F.col(shard_col))
        .sortWithinPartitions(shard_col, *order_cols)
        .write.mode("overwrite")
        .partitionBy(shard_col)
        .parquet(path)
    )


def rewrite_partitions(
    spark: SparkSession,
    rows: DataFrame,
    path: str,
    partition_cols: tuple[str, ...],
    n_tasks: int,
    order_cols: tuple[str, ...],
    drop: list[str],
) -> None:
    """Rewrite some leaf dirs of the partitioned layout at `path` in
    place — the one write discipline of every executing sink
    (compaction, clustering, release retraction, signature-store
    purge), in three steps:

    1. stage `rows` with an eager `materialize`: they are usually
       read from the very files the write replaces, and parquet
       cannot be overwritten while it is still being read lazily;
    2. write them with DYNAMIC partition overwrite: only the leaf
       dirs present in `rows` are replaced, every other dir under
       `path` stays byte-untouched. One hash repartition on the
       partition columns puts each leaf in one task (one file per
       leaf) and the sort fixes its row order, so a rewritten leaf is
       byte-identical to a fresh build of the same rows;
    3. only then delete `drop`, the leaf dirs the new layout no
       longer uses — a dynamic overwrite cannot empty a dir, since no
       rows land in it.

    Write-then-delete: a crash between steps 2 and 3 leaves
    duplicates, never a deleted-but-unwritten partition.
    """
    if n_tasks <= 0:
        raise ValueError("n_tasks must be positive")
    staged = materialize(rows, eager=True)
    (
        staged.repartition(n_tasks, *partition_cols)
        .sortWithinPartitions(*partition_cols, *order_cols)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
    delete_paths(spark, drop)


def remove_ids(
    spark: SparkSession,
    batch_dir: str,
    schema: str,
    leaf_col: str,
    ids: DataFrame,
    decisions: list[tuple[int, int, int]],
    n_tasks: int,
    order_cols: tuple[str, ...],
) -> None:
    """Remove the rows ``ids`` names from the ``{leaf_col}=K`` leaves
    under ``batch_dir`` — the release retraction's and the signature
    purge's one removal path. ``decisions`` are the caller's (leaf,
    row count, hit count) rows: only hit leaves are read and
    anti-joined, fully hit leaves are dropped, the rest stay
    byte-untouched."""
    hit = [(int(k), int(n), int(h)) for k, n, h in decisions if int(h) > 0]
    if not hit:
        return
    cur = (
        spark.read.schema(schema)
        .parquet(batch_dir)
        .filter(F.col(leaf_col).isin([k for k, _, _ in hit]))
    )
    rewrite_partitions(
        spark,
        cur.join(ids, ids.columns, "anti").select(*cur.columns),
        batch_dir,
        (leaf_col,),
        n_tasks,
        order_cols,
        [f"{batch_dir}/{leaf_col}={k}" for k, n, h in hit if n == h],
    )


def check_manifest(
    published: DataFrame,
    delivered: DataFrame,
    key: str,
    compared: tuple[str, ...],
    reported: list[tuple[str, str]],
) -> DataFrame:
    """Full-outer join a published per-leaf manifest with the one
    recomputed from the delivered files on ``key``: ``ok`` only when
    every ``compared`` column matches null-safely, so a lost leaf
    (NULL actuals) or an unnamed one (NULL expectations) is not ok.
    Output: (key, ok, then ``<name>_expected``, ``<name>_actual`` per
    (column, name) pair of ``reported``)."""

    def side(df: DataFrame, p: str) -> DataFrame:
        return df.select(key, *(F.col(c).alias(f"{p}_{c}") for c in compared))

    ok = reduce(
        operator.and_,
        (F.col(f"e_{c}").eqNullSafe(F.col(f"a_{c}")) for c in compared),
    )
    return side(published, "e").join(side(delivered, "a"), key, "full").select(
        key,
        ok.alias("ok"),
        *(
            F.col(f"{p}_{c}").alias(f"{name}_{suffix}")
            for c, name in reported
            for p, suffix in (("e", "expected"), ("a", "actual"))
        ),
    )


def delete_path(spark: SparkSession, path: str) -> bool:
    """Recursively delete `path` through the Hadoop FileSystem API —
    works on any filesystem Spark can write to (local, HDFS, object
    stores), unlike a driver-local shutil.rmtree. Deletes one path;
    rewrite_partitions drops its stale leaf dirs in one batch through
    delete_paths instead. Returns whether anything was deleted."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.delete(jpath, True))

def delete_paths(spark: SparkSession, paths: list[str], max_threads: int = 16) -> int:
    """Batch recursive delete through ONE Hadoop FileSystem handle
    with a small thread-pool fan-out. A sink dropping hundreds of
    stale leaf dirs pays three py4j round-trips per `delete_path`
    call (Path, getFileSystem, delete) serially; object-store deletes
    are additionally per-call latency-bound, so the pool matters even
    more off-box than locally. Returns how many paths deleted
    anything. All paths must live on one filesystem (always true for
    a sink's own layout dirs)."""
    if not paths:
        return 0
    from concurrent.futures import ThreadPoolExecutor

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.Path(paths[0]).getFileSystem(conf)

    def _one(p: str) -> bool:
        return bool(fs.delete(jvm.org.apache.hadoop.fs.Path(p), True))

    with ThreadPoolExecutor(
        max_workers=min(max_threads, len(paths))
    ) as ex:
        return sum(ex.map(_one, paths))

