"""Table-maintenance diagnostics beyond the reference's compaction
model: delete-file burden, orphan-file detection, snapshot-retention
simulation, and z-order clustering layout.

The reference (``icebergdiag/metrics/table_metrics.py``) models one
remediation — bin-pack compaction. These operators cover the other
standard Iceberg maintenance actions a diagnostics tool recommends
(rewrite position/equality deletes, remove orphan files, expire
snapshots, rewrite with a sort/z-order), each as a pure DataFrame
aggregation over the same ``data_files``-shaped relation so a real
deployment runs them off ``spark.table("cat.db.tbl.files")``
unchanged.

Scale posture: every operator is scan → (optional equi-join) →
hash-aggregate on the partition (or z-bucket) key. No windows over
unbounded groups, no collects, no Python. The orphan join shuffles
on ``file_path`` — unique, uniformly-distributed keys, the best case
for a shuffle join at 100 TB of metadata.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

from iceberg_diag_spark.functions.cost import (
    CONTENT_DATA,
    CONTENT_EQUALITY_DELETES,
    CONTENT_POSITION_DELETES,
    READ_COST_SQL,
)
from iceberg_diag_spark.functions.parallel import materialize


def _count_sql(cond: str) -> str:
    return f"CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT)"


def _bytes_sql(cond: str) -> str:
    return (
        f"CAST(coalesce(sum(CASE WHEN {cond} THEN file_size_in_bytes END), 0)"
        " AS BIGINT)"
    )


_IS_DATA = f"content = {CONTENT_DATA}"
_IS_POS = f"content = {CONTENT_POSITION_DELETES}"
_IS_EQ = f"content = {CONTENT_EQUALITY_DELETES}"
_DELETE_IMPACT_AGG_SQL = (
    f"{_count_sql(_IS_DATA)} AS data_files",
    f"{_bytes_sql(_IS_DATA)} AS data_bytes",
    f"{_count_sql(_IS_POS)} AS pos_delete_files",
    f"{_bytes_sql(_IS_POS)} AS pos_delete_bytes",
    f"{_count_sql(_IS_EQ)} AS eq_delete_files",
    f"{_bytes_sql(_IS_EQ)} AS eq_delete_bytes",
    "CAST(sum({}) AS BIGINT) AS rewrite_read_cost".format(
        READ_COST_SQL.format(size="file_size_in_bytes")
    ),
)
_DELETE_PER_DATA_SQL = (
    "CAST(CASE WHEN data_files = 0 THEN -1"
    " ELSE floor((pos_delete_files + eq_delete_files) * 1000000.0D / data_files)"
    " END AS BIGINT) AS delete_per_data_ppm"
)


def delete_impact(files: DataFrame) -> DataFrame:
    """Per-partition delete-file burden (the "rewrite deletes"
    remediation signal).

    For each partition: data/position-delete/equality-delete file
    counts and bytes, deletes-per-data-file ratio (ppm, floor-
    quantized; -1 when the partition has no data files so the ratio
    is undefined), and the read cost of a merge rewrite (a compaction
    that applies deletes must read every file, data and deletes
    alike). One grouped ``agg`` of SQL text, then one ``selectExpr``.
    """
    g = files.groupBy("partition_key").agg(*map(F.expr, _DELETE_IMPACT_AGG_SQL))
    return g.selectExpr("*", _DELETE_PER_DATA_SQL)


def orphan_files(listed: DataFrame, referenced: DataFrame) -> DataFrame:
    """Orphan-file detection: files present in the storage listing but
    referenced by no manifest entry (the "remove orphan files"
    remediation).

    ``listed``    — (file_path, partition_key, file_size_in_bytes),
                    i.e. a filesystem listing.
    ``referenced`` — (file_path) from the metadata ``.files`` scan.

    One left join on ``file_path`` (unique keys — uniform shuffle)
    with a null-flag aggregation, so listing totals and orphan totals
    come out of a single pass instead of a second scan + join.
    """
    refs = referenced.select(
        F.col("file_path").alias("ref_path"), F.lit(1).alias("is_ref")
    )
    j = listed.join(refs, listed["file_path"] == refs["ref_path"], "left")
    orphan = F.col("is_ref").isNull()
    size = F.col("file_size_in_bytes")
    g = j.groupBy("partition_key").agg(
        F.count("*").cast("long").alias("listed_files"),
        F.sum(size).cast("long").alias("listed_bytes"),
        F.sum(F.when(orphan, 1).otherwise(0)).cast("long").alias("orphan_files"),
        F.coalesce(F.sum(F.when(orphan, size)), F.lit(0))
        .cast("long")
        .alias("orphan_bytes"),
    )
    return g.withColumn(
        "orphan_ppm",
        F.floor(
            F.col("orphan_files") * F.lit(1_000_000.0) / F.col("listed_files")
        ).cast("long"),
    )


_EXPIRED = "added_at < cutoff"
_RECLAIMABLE = f"{_EXPIRED} AND content != {CONTENT_DATA}"
_RETENTION_AGG_SQL = (
    f"{_count_sql(_EXPIRED)} AS expired_files",
    f"{_bytes_sql(_EXPIRED)} AS expired_bytes",
    f"{_count_sql(_RECLAIMABLE)} AS reclaimable_files",
    f"{_bytes_sql(_RECLAIMABLE)} AS reclaimable_bytes",
    "CAST(sum(file_size_in_bytes) - coalesce(sum(CASE WHEN"
    f" {_RECLAIMABLE} THEN file_size_in_bytes END), 0) AS BIGINT)"
    " AS retained_bytes",
    f"CAST(count(DISTINCT CASE WHEN {_EXPIRED}"
    " THEN date_trunc('month', added_at) END) AS BIGINT) AS expired_months",
)


def snapshot_retention(
    files: DataFrame, retention_days: int = 180
) -> DataFrame:
    """Snapshot-expiry simulation (the "expire snapshots" remediation).

    ``files`` — (partition_key, file_size_in_bytes, content,
    added_at timestamp). The retention cutoff is ``max(added_at) -
    retention_days`` computed from the relation itself (deterministic
    — no wall clock), carried back as a broadcast single-row scalar.

    Expiring snapshots older than the cutoff lets delete files whose
    snapshots all expired be reclaimed; data files stay live (they
    remain referenced by the current snapshot). Per partition:
    expired-file counts/bytes, reclaimable (expired delete-file)
    bytes, retained bytes, and the number of distinct expired
    snapshot months.
    """
    cutoff = files.selectExpr(
        f"max(added_at) - INTERVAL {retention_days} DAYS AS cutoff"
    )
    withc = files.crossJoin(F.broadcast(cutoff))
    return withc.groupBy("partition_key").agg(*map(F.expr, _RETENTION_AGG_SQL))


ZORDER_BITS = 8


def morton_z(x: Column, y: Column) -> Column:
    """Morton (z-order) interleave of two ZORDER_BITS-bit non-negative
    ints: bit i of x lands at position 2i, bit i of y at 2i+1. Pure
    shift/mask arithmetic — folds into whole-stage codegen, and the
    identical expression runs in any SQL engine with shift operators
    (see ``morton_sql``)."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i))
        terms.append(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    # disjoint bit positions → plain sum assembles the code
    return reduce(lambda a, b: a + b, terms)


def morton_sql(x: str, y: str) -> str:
    """The same Morton interleave as ``morton_z`` rendered as ANSI SQL
    (DuckDB oracle side)."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def zorder_layout(files: DataFrame) -> DataFrame:
    """Z-order clustering layout plan (the "rewrite with sort order"
    remediation): assign each file a Morton code over two clustering
    dimensions, bucket by the code's high bits, and report per-bucket
    file counts / bytes / dimension spans.

    A bucket whose x/y spans are tight shows the rewrite achieves
    locality (range queries on either dimension touch few buckets).
    Zero-shuffle projection + one hash-aggregate on the bucket key.
    """
    z = morton_z(F.col("x").cast("int"), F.col("y").cast("int"))
    return (
        files.withColumn("z", z.cast("long"))
        .groupBy((F.col("z") / F.lit(2**10)).cast("long").alias("zbucket"))
        .agg(
            F.count("*").cast("long").alias("file_count"),
            F.sum("file_size_in_bytes").cast("long").alias("total_bytes"),
            F.min("z").cast("long").alias("min_z"),
            F.max("z").cast("long").alias("max_z"),
            F.min("x").cast("long").alias("min_x"),
            F.max("x").cast("long").alias("max_x"),
            F.min("y").cast("long").alias("min_y"),
            F.max("y").cast("long").alias("max_y"),
        )
    )


MANIFEST_SMALL_BYTES = 200_000


def manifest_stats(manifests: DataFrame) -> DataFrame:
    """Manifest-layer diagnostics (the ``rewrite_manifests``
    remediation signal): per (partition_spec_id, content) — data vs
    delete manifests — the manifest count, total metadata bytes,
    total tracked entries (added + existing), entries-per-manifest
    density, and how many manifests are "small" (below
    MANIFEST_SMALL_BYTES). Many small, sparse manifests mean every query
    plan pays a long metadata scan: the fix is one manifest rewrite,
    and this table says where.

    Input columns follow the Iceberg ``.manifests`` metadata table
    (MANIFESTS_TABLE_SCHEMA): content, partition_spec_id, length,
    added_data_files_count, existing_data_files_count,
    deleted_data_files_count. One conditional hash-aggregate on a
    two-int key — metadata-scale input, trivially distributed.
    """
    entries = (
        F.col("added_data_files_count") + F.col("existing_data_files_count")
    )
    g = manifests.groupBy("partition_spec_id", "content").agg(
        F.count(F.lit(1)).cast("long").alias("n_manifests"),
        F.sum("length").cast("long").alias("total_manifest_bytes"),
        F.sum(entries).cast("long").alias("total_entries"),
        F.sum("deleted_data_files_count").cast("long").alias("deleted_entries"),
        F.sum(F.when(F.col("length") < MANIFEST_SMALL_BYTES, 1).otherwise(0))
        .cast("long")
        .alias("small_manifests"),
    )
    return g.withColumn(
        "entries_per_manifest",
        F.floor(F.col("total_entries") / F.col("n_manifests")).cast("long"),
    )


def clustering_advisor(file_stats: DataFrame) -> DataFrame:
    """Sort/partition-column advisor: given per-file column bounds —
    (col_name string, file_id long, lo long, hi long), the shape of
    the Iceberg ``.files`` table's lower_bounds/upper_bounds maps —
    score each candidate column by how well file min/max ranges
    separate, i.e. how much data-skipping a query filtering on that
    column would get TODAY. The column with the fewest overlapping
    file pairs is the one a sort-order rewrite should target (the
    complement of zorder_layout, which plans the rewrite itself;
    this ranks which column needs it).

    Per column, exact interval statistics via a single endpoint
    sweep (no pairwise join — O(n log n), not O(n^2)):
      overlap_pairs  = #{(i, j) : [lo_i, hi_i] ∩ [lo_j, hi_j] ≠ ∅}
      max_depth      = max #files any single point value can hit
    computed from one window pass: emit (lo, start) and (hi, end)
    events, order by (value, start-before-end, file_id); at each
    start, depth = starts_before − ends_strictly_before, each such
    in-flight interval is one overlapping pair. Closed-interval
    semantics: a file ending AT v still overlaps one starting at v,
    so starts sort before ends at equal value.

    Scale: the window partitions by col_name — each candidate
    column's 2·n_files endpoint rows sort in one task. This is
    metadata-scale input (millions of files ⇒ tens of MB per
    column), the same contract as manifest_stats; the row data
    itself is never touched.

    Output: one row per candidate column —
    (col_name, n_files, overlap_pairs, max_depth, avg_depth_ppm),
    where avg_depth_ppm is the mean point-query file count over file
    start points, in parts-per-million of n_files (a scale-free
    skip-ratio score: 1_000_000 means every file overlaps every
    point — no skipping; ~0 means perfect separation).
    """
    from pyspark.sql.window import Window

    starts = file_stats.select(
        "col_name", F.col("lo").alias("value"), F.lit(0).alias("typ"), "file_id"
    )
    ends = file_stats.select(
        "col_name", F.col("hi").alias("value"), F.lit(1).alias("typ"), "file_id"
    )
    w = (
        Window.partitionBy("col_name")
        .orderBy("value", "typ", "file_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    swept = (
        starts.unionByName(ends)
        .withColumn("ends_lt", F.coalesce(F.sum("typ").over(w), F.lit(0)))
        .withColumn(
            "prev_starts",
            F.coalesce(F.sum(F.lit(1) - F.col("typ")).over(w), F.lit(0)),
        )
        .filter(F.col("typ") == 0)
        .withColumn("depth", F.col("prev_starts") - F.col("ends_lt"))
    )
    return swept.groupBy("col_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("depth").cast("long").alias("overlap_pairs"),
        (F.max("depth") + F.lit(1)).cast("long").alias("max_depth"),
        F.floor(
            F.lit(1_000_000.0)
            * F.sum(F.col("depth") + F.lit(1))
            / (F.count(F.lit(1)) * F.count(F.lit(1)))
        )
        .cast("long")
        .alias("avg_depth_ppm"),
    )


def skip_simulation(
    column_values: DataFrame,
    file_stats: DataFrame,
    rows_per_file: int = 32,
) -> DataFrame:
    """Sort-order rewrite simulator — the before/after improvement
    table behind clustering_advisor's ranking, in the reference's
    remediation idiom (the compaction metrics' before/after ratio
    applied to data-skipping). BEFORE = the advisor's point-query
    stats on TODAY's file bounds; AFTER = the same stats if files
    were rewritten globally sorted by that column, computed EXACTLY
    without materializing the sorted layout:

    sort the column's distinct values, give each its starting row
    rank s (an exclusive prefix sum of value counts — the
    grouped_prefix_sum shard idiom, no global window), and every
    after-stat falls out of per-value integer arithmetic: value v
    occupying ranks [s, s+k-1] spans files f0 = (s-1)//m through
    (s+k-2)//m, a file's start-of-file depth is its index minus the
    f0 of its first value, and summing each value's arithmetic
    series of depths gives total overlapping pairs. (The closed
    form provably equals running the endpoint sweep on the sorted
    layout's bounds — pinned by a test that does exactly that.)

    Inputs: column_values = (col_name, v) one row per (row, candidate
    column); file_stats = the advisor's (col_name, file_id, lo, hi).

    Output per candidate column: n_files, overlap_pairs_before/after,
    max_depth_before/after, avg_depth_ppm_before/after, and
    improvement_ppm = floor(1e6 · after_avg / before_avg) — the
    skip-ratio a rewrite would buy (lower = better; 1_000_000 = the
    rewrite changes nothing).
    """
    before = clustering_advisor(file_stats).select(
        "col_name",
        F.col("overlap_pairs").alias("overlap_pairs_before"),
        F.col("max_depth").alias("max_depth_before"),
        F.col("avg_depth_ppm").alias("avg_depth_ppm_before"),
    )

    from iceberg_diag_spark.operators.shuffling import grouped_prefix_sum

    # the prefix reads the per-value counts three times
    vals = materialize(
        column_values.groupBy("col_name", "v").agg(
            F.count(F.lit(1)).cast("long").alias("k")
        )
    )
    after = sorted_after_stats(
        grouped_prefix_sum(vals, ["col_name"], ["v"], ["k"], ["__pre"]),
        rows_per_file,
    )

    return (
        before.join(after, "col_name")
        .withColumn(
            "improvement_ppm",
            F.when(
                F.col("avg_depth_ppm_before") > 0,
                F.floor(
                    F.lit(1_000_000.0)
                    * F.col("avg_depth_ppm_after")
                    / F.col("avg_depth_ppm_before")
                ),
            )
            .otherwise(F.lit(1_000_000))
            .cast("long"),
        )
        .select(
            "col_name",
            "n_files",
            "overlap_pairs_before",
            "overlap_pairs_after",
            "max_depth_before",
            "max_depth_after",
            "avg_depth_ppm_before",
            "avg_depth_ppm_after",
            "improvement_ppm",
        )
    )


def sorted_after_stats(pre: DataFrame, rows_per_file: int) -> DataFrame:
    """The skip_simulation closed form, factored out so the executing
    sorted rewrite (compaction.cluster_apply_sorted) can PREDICT the
    stats it then measures from written files, from the same value
    ranks it writes by: given per-value counts with their exclusive
    prefix ``pre`` = (col_name, k, __pre) — grouped_prefix_sum of k
    by col_name over v — the exact post-rewrite interval statistics
    of the globally-v-sorted, m-rows-per-file layout, without
    materializing it. See skip_simulation for the arithmetic.

    Output: (col_name, n_files, overlap_pairs_after, max_depth_after,
    avg_depth_ppm_after).
    """
    m = rows_per_file
    per_val = pre.select(
        "col_name",
        "k",
        (F.col("__pre") + 1).alias("s"),
    ).select(
        "col_name",
        "k",
        "s",
        (F.col("s") + F.col("k") - 1).alias("e"),
        F.floor((F.col("s") - 1) / m).alias("f0"),
        F.floor((F.col("s") + m - 2) / m).alias("a"),
    ).select(
        "col_name",
        "k",
        "s",
        "f0",
        "a",
        F.floor((F.col("e") - 1) / m).alias("b"),
    ).select(
        "col_name",
        "k",
        (F.col("a") - F.col("f0")).alias("ra"),
        (F.col("b") - F.col("f0")).alias("rb"),
        (F.col("b") >= F.col("a")).alias("spans"),
    )
    return per_val.groupBy("col_name").agg(
        F.sum("k").alias("n_rows"),
        F.sum(
            F.when(
                F.col("spans"),
                # (ra+rb)(rb-ra+1) is always even; integer DIV keeps
                # each term and the running sum in LONG — exact past
                # 2^53 where double division would silently round.
                F.expr(
                    "(ra + rb) * (rb - ra + 1) DIV 2"
                ),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("overlap_pairs_after"),
        F.greatest(
            F.max(
                F.when(F.col("spans"), F.col("rb") + 1).otherwise(F.lit(1))
            ),
            F.lit(1),
        )
        .cast("long")
        .alias("max_depth_after"),
    ).select(
        "col_name",
        F.ceil(F.col("n_rows") / m).cast("long").alias("n_files"),
        "overlap_pairs_after",
        "max_depth_after",
    ).withColumn(
        "avg_depth_ppm_after",
        F.floor(
            F.lit(1_000_000.0)
            * (F.col("overlap_pairs_after") + F.col("n_files"))
            / (F.col("n_files") * F.col("n_files"))
        ).cast("long"),
    )


def partition_advisor(column_values: DataFrame) -> DataFrame:
    """Partition-spec advisor — the partition-evolution companion of
    clustering_advisor (which ranks SORT columns; this ranks
    PARTITION transforms): for each candidate column simulate the
    two standard Iceberg partition transforms — bucket(16) (proxied
    with a positive mod; real Iceberg buckets by murmur3, which only
    permutes bucket assignment, not the size distribution of a mod
    over well-spread keys) and truncate(1024) — and report the
    partition-count / row-balance each would produce. A transform
    whose skew_ppm is high concentrates writes and scans in few
    partitions; one whose n_parts explodes shreds the table into
    tiny partitions. The advisor table shows both failure modes per
    candidate.

    One stack projection + one hash-aggregate on (col, transform,
    partition) + one rollup — linear, shuffle on a well-spread key.

    Output: (col_name, transform, n_parts, total_rows,
    max_part_rows, avg_part_rows, skew_ppm) where skew_ppm =
    floor(1e6 · max_part_rows · n_parts / total_rows) — 1e6 means
    perfectly balanced, N·1e6 means the largest partition carries
    N× its fair share.
    """
    assigned = column_values.select(
        "col_name",
        F.expr(
            "stack(2, "
            "'bucket16', pmod(v, 16), "
            "'truncate1024', "
            "CAST(floor(v / 1024.0) AS LONG)"
            ") AS (transform, pk)"
        ),
    )
    per_part = assigned.groupBy("col_name", "transform", "pk").agg(
        F.count(F.lit(1)).cast("long").alias("rows")
    )
    return (
        per_part.groupBy("col_name", "transform")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("rows").cast("long").alias("total_rows"),
            F.max("rows").cast("long").alias("max_part_rows"),
        )
        .withColumn(
            "avg_part_rows",
            F.floor(F.col("total_rows") / F.col("n_parts")).cast("long"),
        )
        .withColumn(
            "skew_ppm",
            F.floor(
                F.lit(1_000_000.0)
                * F.col("max_part_rows")
                * F.col("n_parts")
                / F.col("total_rows")
            ).cast("long"),
        )
    )


def file_skew_audit(files: DataFrame) -> DataFrame:
    """Per-partition file-size dispersion audit — the 'which
    partitions have pathological layouts' companion to the bin-pack
    compaction model: a partition whose sizes vary wildly (tiny
    files next to huge ones) wastes task scheduling either way, and
    one whose largest file carries most of the bytes straggles every
    scan of that partition.

    Exact 128-bit moments: the variance numerator n·Σx² − (Σx)²
    accumulates as DECIMAL(38,0) (Σx² wraps int64 past a handful of
    GiB-sized files, and the variance ITSELF wraps past ~TiB sizes),
    then publishes as stddev_bytes = floor(sqrt(num)/n) — sqrt brings
    the figure back inside int64 for any physical file size, and the
    decimal→double conversion + sqrt + divide are each single
    correctly-rounded IEEE operations in fixed order, identical on
    any engine. The largest-file byte share is the exact integer
    (1e6·max) DIV total. One hash aggregate on the partition key —
    the same single-shuffle contract as delete_impact.

    Output: (partition_key, n_files, total_bytes, min_bytes,
    max_bytes, stddev_bytes, max_share_ppm) over DATA files only.
    """
    sized = files.filter(F.col("content") == 0).select(
        "partition_key",
        F.col("file_size_in_bytes").alias("x"),
    )
    g = sized.groupBy("partition_key").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("x").cast("long").alias("total_bytes"),
        F.min("x").cast("long").alias("min_bytes"),
        F.max("x").cast("long").alias("max_bytes"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("__ss"),
    )
    return g.select(
        "partition_key",
        "n_files",
        "total_bytes",
        "min_bytes",
        "max_bytes",
        F.expr(
            "CAST(FLOOR(SQRT(CAST(n_files * __ss -"
            " CAST(total_bytes AS DECIMAL(38,0)) * total_bytes"
            " AS DOUBLE)) / n_files) AS LONG)"
        ).alias("stddev_bytes"),
        F.expr(
            "CAST((1000000 * max_bytes) DIV total_bytes AS LONG)"
        ).alias("max_share_ppm"),
    )


def bloom_advisor(column_values: DataFrame) -> DataFrame:
    """Bloom-filter benefit simulator for point lookups — the
    companion to clustering_advisor's range-skipping story. Min/max
    bounds prune a file only when the probed value falls OUTSIDE
    [lo, hi]; an ingest-ordered layout leaves almost every file's
    range covering almost every key, so point queries read
    everything. A bloom filter (or Iceberg's bloom write property)
    prunes by MEMBERSHIP instead. This measures the exact gap on
    today's layout: for each probed key, how many files min/max
    pruning admits vs how many genuinely contain the key — the
    difference is the I/O a bloom filter would save, per probe.

    Probes are the deterministic 1/97 key sample (v % 97 =
    0) — bounded, broadcast. The min/max admission test is a
    broadcast non-equi join of the PROBE PANEL against the per-file
    bounds relation (metadata scale × bounded panel — the documented
    nested-loop exception); true membership is an equi semi-join
    that pushes the probe set INTO the big scan (exactly the
    filter a bloom file-skip would perform), then a distinct
    (file, key) count. The big relation shuffles only its probe-hit
    subset. Output per probe: (probe_key, minmax_files,
    actual_files, wasted_files, wasted_ppm), ordered by key.
    """
    # deliberately NOT checkpointed: the three consumers replay a
    # column-pruned scan + cast only, which parallel stages recompute
    # for free locally while a barrier read +8-25% here (two A/B pairs)
    vals = column_values.select(
        "file_id",
        F.col("v").cast("long").alias("v"),
    )
    fstats = vals.groupBy("file_id").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    probes = (
        vals.filter(F.col("v") % 97 == 0)
        .select(F.col("v").alias("probe_key"))
        .distinct()
    )
    mm = (
        fstats.join(
            F.broadcast(probes),
            (F.col("lo") <= F.col("probe_key"))
            & (F.col("probe_key") <= F.col("hi")),
        )
        .groupBy("probe_key")
        .agg(F.count(F.lit(1)).cast("long").alias("minmax_files"))
    )
    act = (
        vals.join(
            F.broadcast(probes), F.col("v") == F.col("probe_key")
        )
        .select("probe_key", "file_id")
        .distinct()
        .groupBy("probe_key")
        .agg(F.count(F.lit(1)).cast("long").alias("actual_files"))
    )
    return (
        mm.join(act, "probe_key")
        .select(
            "probe_key",
            "minmax_files",
            "actual_files",
            (F.col("minmax_files") - F.col("actual_files"))
            .cast("long")
            .alias("wasted_files"),
            F.expr(
                "(1000000 * (minmax_files - actual_files))"
                " DIV minmax_files"
            ).alias("wasted_ppm"),
        )
        .orderBy("probe_key")
    )
