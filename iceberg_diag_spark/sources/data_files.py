"""Sources producing the ``data_files`` relation (FIXTURES.md §1) —
one row per Iceberg manifest entry: (partition_key string,
file_size_in_bytes long, content int).

Two providers:
- golden_fixture_files: the reference's deterministic 900-row unit
  fixture (tests/test_metric_calculator.py:19-37) for pinning exact
  semantics.
- files_from_lineitem: a DuckDB-oracle-checkable proxy mapping the
  driver's lineitem table onto the data_files schema, so diagnostics
  aggregation semantics can be hash-verified against plain SQL
  (FIXTURES.md §3 note).

On a real deployment this relation comes straight from the Iceberg
metadata table ``spark.table("cat.db.tbl.files")`` (SURVEY §2 S4):
columns partition / file_size_in_bytes / content map 1:1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from iceberg_diag_spark.functions.parallel import ensure_parallelism

FILES_SCHEMA = "partition_key string, file_size_in_bytes long, content int"

MIB = 1024 * 1024
GOLDEN_MANIFEST_COUNT = 10


def golden_fixture_files(spark: SparkSession) -> DataFrame:
    """Reference golden fixture, generated distributively.

    For i in 1..300: partition ``partition{(i % 3) + 1}``, one DATA
    file of (12 + i%13) MiB, plus delete files by i%3:
    0 → 10+5 MiB, 1 → 20 MiB, 2 → 5+5+10 MiB. 900 rows total.
    (Reference builds the same rows in a Python loop; we declare it as
    a range + explode so generation itself scales.)
    """
    i = F.col("id")
    part = F.concat(F.lit("partition"), ((i % 3) + 1).cast("string"))
    data_size = (F.lit(12) + (i % 13)) * MIB

    deletes = (
        F.when(i % 3 == 0, F.array(F.lit(10 * MIB), F.lit(5 * MIB)))
        .when(i % 3 == 1, F.array(F.lit(20 * MIB)))
        .otherwise(F.array(F.lit(5 * MIB), F.lit(5 * MIB), F.lit(10 * MIB)))
    )
    # content code 2 = EQUALITY_DELETES, matching the fixture stub.
    files = (
        spark.range(1, 301)
        .select(
            part.alias("partition_key"),
            F.concat(
                F.array(F.struct(data_size.cast("long").alias("size"), F.lit(0).alias("content"))),
                F.transform(
                    deletes,
                    lambda s: F.struct(s.cast("long").alias("size"), F.lit(2).alias("content")),
                ),
            ).alias("fs"),
        )
        .select("partition_key", F.explode("fs").alias("f"))
        .select(
            "partition_key",
            F.col("f.size").alias("file_size_in_bytes"),
            F.col("f.content").alias("content"),
        )
    )
    return files


def files_from_lineitem(lineitem: DataFrame) -> DataFrame:
    """Deterministic lineitem → data_files projection (oracle proxy).

    partition_key = l_returnflag, size = extendedprice scaled to a
    file-like byte count (~MBs so the cost model's DIV matters),
    content = l_linenumber % 3 (mix of DATA/deletes).

    The scan is spread to default parallelism first: the test parquet
    is one unsplittable row group, and everything downstream (two
    aggregation passes + the bin-pack exchange) inherits the scan's
    partitioning.
    """
    lineitem = ensure_parallelism(lineitem)
    return lineitem.select(
        F.col("l_returnflag").alias("partition_key"),
        (F.col("l_extendedprice") * 1000).cast("long").alias("file_size_in_bytes"),
        (F.col("l_linenumber") % 3).cast("int").alias("content"),
    )


def file_column_stats_from_lineitem(lineitem: DataFrame) -> DataFrame:
    """Deterministic lineitem → per-file column-bounds projection
    (oracle proxy for the Iceberg ``.files`` table's readable_metrics
    / lower_bounds / upper_bounds maps): rows are grouped into
    synthetic files in l_orderkey arrival order (how an append-only
    writer actually lays them down), and each file reports [min, max]
    for four candidate clustering columns.

    Output: (col_name string, file_id long, lo long, hi long) — the
    clustering_advisor input shape. On a real deployment this
    relation is one projection of ``spark.table("cat.db.tbl.files")``
    per tracked column.

    One hash-aggregate on file_id, then a zero-shuffle stack()
    unpivot — 4 rows per file, metadata scale.
    """
    li = ensure_parallelism(lineitem)
    per_file = li.select(
        F.floor(F.col("l_orderkey") / F.lit(32))
        .cast("long")
        .alias("file_id"),
        F.col("l_partkey").cast("long").alias("pk"),
        F.col("l_suppkey").cast("long").alias("sk"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("pc"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1992-01-01").cast("date")
        )
        .cast("long")
        .alias("sd"),
    ).groupBy("file_id").agg(
        F.min("pk").alias("pk_lo"), F.max("pk").alias("pk_hi"),
        F.min("sk").alias("sk_lo"), F.max("sk").alias("sk_hi"),
        F.min("pc").alias("pc_lo"), F.max("pc").alias("pc_hi"),
        F.min("sd").alias("sd_lo"), F.max("sd").alias("sd_hi"),
    )
    return per_file.select(
        "file_id",
        F.expr(
            "stack(4, "
            "'l_partkey', pk_lo, pk_hi, "
            "'l_suppkey', sk_lo, sk_hi, "
            "'price_cents', pc_lo, pc_hi, "
            "'ship_day', sd_lo, sd_hi) AS (col_name, lo, hi)"
        ),
    ).select("col_name", "file_id", "lo", "hi")


def column_values_from_lineitem(lineitem: DataFrame) -> DataFrame:
    """Long-format (col_name, v) row relation for the same four
    candidate clustering columns as file_column_stats_from_lineitem —
    the skip_simulation input (one row per (row, candidate column),
    zero-shuffle stack unpivot)."""
    li = ensure_parallelism(lineitem)
    return li.select(
        F.col("l_partkey").cast("long").alias("pk"),
        F.col("l_suppkey").cast("long").alias("sk"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("pc"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1992-01-01").cast("date")
        )
        .cast("long")
        .alias("sd"),
    ).select(
        F.expr(
            "stack(4, "
            "'l_partkey', pk, "
            "'l_suppkey', sk, "
            "'price_cents', pc, "
            "'ship_day', sd) AS (col_name, v)"
        )
    )
