"""Display layer: format the 9-metric diagnostics table into the
reference's human-readable 4-column layout (Metric / Before / After /
Improvement) as a DataFrame of strings.

Semantics mirrored from the reference
(icebergdiag/metrics/table_metric.py:86-176,
table_metrics_displayer.py:26-46):
- metric types: duration (ms) / int / size (bytes) decide formatting;
- AVG_FILE_SIZE, WORST_AVG_FILE_SIZE never show improvement;
- durations with before<10ms and after<10ms display "0.00%";
- WORST_AVG_FILE_SIZE is hidden in local mode;
- missing after → empty strings.

The expressions are SQL text assembled once, at import, from the
formatting ladders: the display transform is one ``selectExpr`` (and,
in local mode, one ``filter``), so it makes a handful of py4j calls
and still distributes.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame

from iceberg_diag_spark.functions.formatting import (
    format_duration_sql,
    format_percent_sql,
    format_size_sql,
)
from iceberg_diag_spark.operators.diagnostics import METRICS

DURATION_METRICS = ["FULL_SCAN_OVERHEAD", "WORST_SCAN_OVERHEAD"]
INT_METRICS = ["FILE_COUNT", "WORST_FILE_COUNT", "TOTAL_PARTITIONS"]
SIZE_METRICS = [
    "AVG_FILE_SIZE",
    "WORST_AVG_FILE_SIZE",
    "TOTAL_TABLE_SIZE",
    "LARGEST_PARTITION_SIZE",
]
NO_IMPROVEMENT_METRICS = ["AVG_FILE_SIZE", "WORST_AVG_FILE_SIZE"]
REMOTE_ONLY_METRICS = ["WORST_AVG_FILE_SIZE"]

_DISPLAY_NAMES = dict(METRICS)


def _in_list(values: list[str]) -> str:
    return ", ".join(f"'{v}'" for v in values)


_IS_DURATION = f"metric IN ({_in_list(DURATION_METRICS)})"
_IS_INT = f"metric IN ({_in_list(INT_METRICS)})"


def _value_sql(col: str) -> str:
    """One before/after cell: empty when missing, else formatted by the
    metric's type."""
    return (
        f"CASE WHEN {col} IS NULL THEN ''"
        f" WHEN {_IS_DURATION} THEN {format_duration_sql(col)}"
        f" WHEN {_IS_INT} THEN CAST(CAST({col} AS BIGINT) AS STRING)"
        f" ELSE {format_size_sql(col)} END AS {col}"
    )


_NAME_SQL = reduce(
    lambda rest, kv: f"CASE WHEN metric = '{kv[0]}' THEN '{kv[1]}' ELSE {rest} END",
    _DISPLAY_NAMES.items(),
    "metric",
)

_DISPLAY_SQL = (
    "ordinal",
    f"{_NAME_SQL} AS metric_name",
    _value_sql("before"),
    _value_sql("after"),
    f"CASE WHEN metric IN ({_in_list(NO_IMPROVEMENT_METRICS)}) THEN ''"
    " WHEN improvement IS NULL THEN ''"
    f" WHEN {_IS_DURATION} AND before < 10 AND after < 10 THEN '0.00%'"
    f" ELSE {format_percent_sql('improvement')} END AS improvement",
)
_LOCAL_FILTER_SQL = "NOT metric_name IN ({})".format(
    _in_list([_DISPLAY_NAMES[m] for m in REMOTE_ONLY_METRICS])
)


def format_metrics(metrics: DataFrame, mode: str = "local") -> DataFrame:
    """(metric, ordinal, before, after, improvement) → formatted
    display rows (metric_name, before, after, improvement strings)."""
    out = metrics.selectExpr(*_DISPLAY_SQL)
    if mode == "local":
        out = out.filter(_LOCAL_FILTER_SQL)
    return out.orderBy("ordinal").drop("ordinal")
