"""Remote-mode analysis-response ingestion (SURVEY EP3, §2 P5/P6).

The reference POSTs table names to a SaaS endpoint and parses the
nested-JSON reply row-per-table (diagnostics/response.py:67-86).
Here the transport stays out of the engine; ingestion is a nested
StructType + ``from_json`` + explode pipeline, so a response file
with millions of table results would still parse distributed.

Credential shipping (reference manager.py:127-138) is intentionally
NOT replicated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_PARTITION_FIELDS = [
    StructField("name", StringType()),
    StructField("totalSizeBytes", LongType()),
    StructField("targetSizeBytes", LongType()),
    StructField("currentScanOverheadMillis", LongType()),
    StructField("targetScanOverheadMillis", LongType()),
    StructField("totalFilesCount", LongType()),
    StructField("targetFilesCount", LongType()),
]
_AVG_FIELDS = [
    StructField("totalDataFileCount", LongType()),
    StructField("totalDataFileSizeBytes", LongType()),
]

RESPONSE_SCHEMA = StructType(
    [
        StructField(
            "analysisResults",
            ArrayType(
                StructType(
                    [
                        StructField(
                            "table",
                            StructType(
                                _PARTITION_FIELDS
                                + [StructField("totalPartitionsCount", LongType())]
                                + _AVG_FIELDS
                            ),
                        ),
                        StructField("largestPartition", StructType(_PARTITION_FIELDS)),
                        StructField(
                            "worstOverheadPartition", StructType(_PARTITION_FIELDS)
                        ),
                        StructField(
                            "worstFilesCountPartition", StructType(_PARTITION_FIELDS)
                        ),
                        StructField(
                            "worstAvgFileSizePartition",
                            StructType(_PARTITION_FIELDS + _AVG_FIELDS),
                        ),
                    ]
                )
            ),
        ),
        StructField(
            "errors",
            ArrayType(
                StructType(
                    [
                        StructField("table", StringType()),
                        StructField("error", StringType()),
                    ]
                )
            ),
        ),
    ]
)


def parse_response_json(spark: SparkSession, json_strings: list[str]) -> DataFrame:
    """Raw JSON documents → one row per analysis result with the
    nested struct columns typed (dot-path access becomes plain
    ``col("table.totalSizeBytes")``)."""
    raw = spark.createDataFrame([(s,) for s in json_strings], "js string")
    parsed = raw.select(F.from_json("js", RESPONSE_SCHEMA).alias("r"))
    return parsed.select(F.explode("r.analysisResults").alias("res")).select("res.*")


def response_metrics(results: DataFrame) -> DataFrame:
    """Nested results → the 9-metric layout (metric, ordinal,
    table_name, before, after, improvement), matching the reference's
    DIAGNOSTICS_METRICS_MAP (response.py:22-35) plus derived averages
    (response.py:51-64: size/count with 0-guard)."""
    specs = [
        ("FULL_SCAN_OVERHEAD", 0, "table.currentScanOverheadMillis", "table.targetScanOverheadMillis"),
        ("WORST_SCAN_OVERHEAD", 1, "worstOverheadPartition.currentScanOverheadMillis", "worstOverheadPartition.targetScanOverheadMillis"),
        ("FILE_COUNT", 2, "table.totalFilesCount", "table.targetFilesCount"),
        ("WORST_FILE_COUNT", 3, "worstFilesCountPartition.totalFilesCount", "worstFilesCountPartition.targetFilesCount"),
        ("TOTAL_TABLE_SIZE", 6, "table.totalSizeBytes", "table.targetSizeBytes"),
        ("LARGEST_PARTITION_SIZE", 7, "largestPartition.totalSizeBytes", "largestPartition.targetSizeBytes"),
    ]

    def avg(prefix: str, count_field: str, size_field: str):
        count = F.col(f"{prefix}.{count_field}")
        size = F.col(f"{prefix}.{size_field}")
        return F.when(count != 0, size.cast("double") / count).otherwise(F.lit(0.0))

    entries = [
        F.struct(
            F.lit(name).alias("metric"),
            F.lit(ordinal).alias("ordinal"),
            F.col(before).cast("double").alias("before"),
            F.col(after).cast("double").alias("after"),
        )
        for name, ordinal, before, after in specs
    ]
    entries.append(
        F.struct(
            F.lit("AVG_FILE_SIZE").alias("metric"),
            F.lit(4).alias("ordinal"),
            avg("table", "totalDataFileCount", "totalDataFileSizeBytes").alias("before"),
            F.when(
                F.col("table.targetFilesCount") != 0,
                F.col("table.targetSizeBytes").cast("double")
                / F.col("table.targetFilesCount"),
            )
            .otherwise(F.lit(0.0))
            .alias("after"),
        )
    )
    entries.append(
        F.struct(
            F.lit("WORST_AVG_FILE_SIZE").alias("metric"),
            F.lit(5).alias("ordinal"),
            avg(
                "worstAvgFileSizePartition",
                "totalDataFileCount",
                "totalDataFileSizeBytes",
            ).alias("before"),
            F.when(
                F.col("worstAvgFileSizePartition.targetFilesCount") != 0,
                F.col("worstAvgFileSizePartition.targetSizeBytes").cast("double")
                / F.col("worstAvgFileSizePartition.targetFilesCount"),
            )
            .otherwise(F.lit(0.0))
            .alias("after"),
        )
    )
    entries.append(
        F.struct(
            F.lit("TOTAL_PARTITIONS").alias("metric"),
            F.lit(8).alias("ordinal"),
            F.col("table.totalPartitionsCount").cast("double").alias("before"),
            F.lit(None).cast("double").alias("after"),
        )
    )

    rows = results.select(
        F.col("table.name").alias("table_name"),
        F.explode(F.array(*entries)).alias("m"),
    ).select("table_name", "m.*")

    improvement = (
        F.when(F.col("after").isNull(), F.lit(None).cast("double"))
        .when((F.col("before") == 0) & (F.col("after") == 0), F.lit(0.0))
        .when(F.col("before") == 0, F.lit(float("inf")))
        .otherwise((F.lit(1.0) - F.col("after") / F.col("before")) * 100.0)
    )
    return rows.withColumn("improvement", improvement).orderBy(
        "table_name", "ordinal"
    )


def extract_errors(spark: SparkSession, json_strings: list[str]) -> DataFrame:
    """errors[] → (table, error), dropping blank table names
    (reference response.py:43-48)."""
    raw = spark.createDataFrame([(s,) for s in json_strings], "js string")
    parsed = raw.select(F.from_json("js", RESPONSE_SCHEMA).alias("r"))
    return (
        parsed.select(F.explode("r.errors").alias("e"))
        .select(
            F.col("e.table").alias("table"),
            F.coalesce(F.col("e.error"), F.lit("Unknown Error")).alias("error"),
        )
        .filter((F.col("table").isNotNull()) & (F.col("table") != ""))
    )
