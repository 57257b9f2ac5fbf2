"""Phase-2 surface tests: formatting expressions, display layout,
catalog listing, remote-response ingestion (SURVEY §2 S1-S3, S6-S7,
P1, P5-P6, F1-F4).

Golden strings mirror the reference formatters
(icebergdiag/metrics/table_metric.py:134-176) without importing them.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row

from iceberg_diag_spark.functions.formatting import (
    format_duration_sql,
    format_percent_sql,
    format_size_sql,
    glob_to_regex,
)
from iceberg_diag_spark.operators.display import format_metrics
from iceberg_diag_spark.sources.catalog import (
    connection_probe,
    iceberg_tables,
    list_namespaces,
    list_tables,
)
from iceberg_diag_spark.sources.response import (
    extract_errors,
    parse_response_json,
    response_metrics,
)


# --------------------------------------------------------------------
# formatting (F1-F4)
# --------------------------------------------------------------------

@pytest.mark.parametrize(
    "value,expected",
    [
        (0, "0.00 B"),
        (1023, "1023.00 B"),
        (1239, "1.21 KB"),
        (1024 * 1024, "1.00 MB"),
        (3982491648, "3.71 GB"),
        (1024**5 * 900, "900.00 PB"),
        (1024**6, "1024.00 PB"),  # terminal unit never advances past PB
        (1024, "1.00 KB"),
        (1024**2 - 1, "1024.00 KB"),  # unit picked before rounding
        (1024**5 - 1, "1024.00 TB"),
    ],
)
def test_format_size(spark, value, expected):
    row = spark.range(1).selectExpr(
        f"{format_size_sql(f'{float(value)!r}D')} AS s"
    ).first()
    assert row["s"] == expected


@pytest.mark.parametrize(
    "ms,expected",
    [
        (3_600_000, "1h 0m 0s"),
        (125_000, "2m 5s"),
        (5_500, "5.5s"),
        (5_000, "5s"),
        (1810, "1.81s"),
        (5, "<0.01s"),
        (0, "0s"),
        (59_999, "60s"),  # seconds-only form rounds up to 60
        (3_599_999, "59m 59s"),
        (9, "<0.01s"),
    ],
)
def test_format_duration(spark, ms, expected):
    row = spark.range(1).selectExpr(
        f"{format_duration_sql(str(ms))} AS s"
    ).first()
    assert row["s"] == expected


def test_format_percent(spark):
    row = spark.range(1).selectExpr(
        f"{format_percent_sql('99.005D')} AS s"
    ).first()
    assert row["s"] == "99.01%"


def test_format_percent_of_infinity(spark):
    inf = format_percent_sql("double('Infinity')")
    row = spark.range(1).selectExpr(f"{inf} AS s").first()
    assert row["s"] == "Infinity%"


@pytest.mark.parametrize(
    "pattern,name,matches",
    [
        ("*", "anything", True),
        ("tbl_*", "tbl_a", True),
        ("tbl_*", "xtbl_a", False),
        ("t?l", "tbl", True),
        ("a.b", "a.b", True),
        ("a.b", "axb", False),
    ],
)
def test_glob_to_regex(pattern, name, matches):
    import re

    assert bool(re.match(glob_to_regex(pattern), name)) is matches


# --------------------------------------------------------------------
# display (S7)
# --------------------------------------------------------------------

def _metrics_df(spark):
    rows = [
        Row(metric="FULL_SCAN_OVERHEAD", ordinal=0, before=1810.0, after=180.0,
            improvement=90.0552486),
        Row(metric="WORST_SCAN_OVERHEAD", ordinal=1, before=5.0, after=3.0,
            improvement=40.0),
        Row(metric="FILE_COUNT", ordinal=2, before=900.0, after=9.0,
            improvement=99.0),
        Row(metric="AVG_FILE_SIZE", ordinal=4, before=18874368.0, after=None,
            improvement=None),
        Row(metric="WORST_AVG_FILE_SIZE", ordinal=5, before=1.0, after=None,
            improvement=None),
        Row(metric="TOTAL_PARTITIONS", ordinal=8, before=3.0, after=None,
            improvement=None),
    ]
    return spark.createDataFrame(rows)


def test_format_metrics_local(spark):
    out = format_metrics(_metrics_df(spark), mode="local").collect()
    by_name = {r["metric_name"]: r for r in out}
    # remote-only metric hidden in local mode
    assert "Worst Partition Avg Data File Size" not in by_name
    fso = by_name["Full Scan Overhead"]
    assert (fso["before"], fso["after"]) == ("1.81s", "0.18s")
    assert fso["improvement"] == "90.06%"
    # duration with both sides <10ms → "0.00%"
    assert by_name["Worst Partition Scan Overhead"]["improvement"] == "0.00%"
    assert by_name["Total File Count"]["before"] == "900"
    assert by_name["Avg Data File Size"]["before"] == "18.00 MB"
    # no-after metrics render empty strings
    assert by_name["Avg Data File Size"]["after"] == ""
    assert by_name["Total Partitions"]["improvement"] == ""
    # display order preserved
    assert [r["metric_name"] for r in out] == [
        "Full Scan Overhead",
        "Worst Partition Scan Overhead",
        "Total File Count",
        "Avg Data File Size",
        "Total Partitions",
    ]


def test_format_metrics_remote_keeps_all(spark):
    out = format_metrics(_metrics_df(spark), mode="remote").collect()
    assert len(out) == 6


@pytest.mark.parametrize("mode", ["local", "remote"])
def test_format_metrics_null_after_and_infinite_improvement(spark, mode):
    inf = float("inf")
    rows = [
        Row(metric="FULL_SCAN_OVERHEAD", ordinal=0, before=59999.0, after=None,
            improvement=None),
        Row(metric="WORST_SCAN_OVERHEAD", ordinal=1, before=9.0, after=None,
            improvement=None),
        Row(metric="FILE_COUNT", ordinal=2, before=0.0, after=5.0,
            improvement=inf),
        Row(metric="WORST_FILE_COUNT", ordinal=3, before=7.0, after=None,
            improvement=None),
        Row(metric="TOTAL_TABLE_SIZE", ordinal=6, before=float(1024**5 - 1),
            after=None, improvement=None),
        Row(metric="LARGEST_PARTITION_SIZE", ordinal=7, before=1024.0,
            after=float(1024**2 - 1), improvement=inf),
    ]
    out = format_metrics(spark.createDataFrame(rows), mode=mode).collect()
    assert [tuple(r) for r in out] == [
        ("Full Scan Overhead", "60s", "", ""),
        ("Worst Partition Scan Overhead", "<0.01s", "", ""),
        ("Total File Count", "0", "5", "Infinity%"),
        ("Worst Partition File Count", "7", "", ""),
        ("Total Table Size", "1024.00 TB", "", ""),
        ("Largest Partition Size", "1.00 KB", "1024.00 KB", "Infinity%"),
    ]


# --------------------------------------------------------------------
# catalog (S1-S3, S5, P1)
# --------------------------------------------------------------------

def test_list_namespaces_and_probe(spark):
    names = [r["namespace"] for r in list_namespaces(spark).collect()]
    assert "default" in names
    assert names == sorted(names)
    assert connection_probe(spark) is True


def test_list_tables_glob(spark):
    for name in ["cat_alpha", "cat_beta", "other_one"]:
        spark.range(1).createOrReplaceTempView(name)
    got = [r["table_name"] for r in list_tables(spark, "default", "cat_*").collect()]
    assert got == ["cat_alpha", "cat_beta"]


def test_iceberg_tables_empty_on_plain_catalog(spark):
    assert iceberg_tables(spark, "default").count() == 0


# --------------------------------------------------------------------
# remote response (S6, P5-P6, EP3)
# --------------------------------------------------------------------

def _partition(name, total, target, cur_ms, tgt_ms, files, tgt_files, **extra):
    d = {
        "name": name,
        "totalSizeBytes": total,
        "targetSizeBytes": target,
        "currentScanOverheadMillis": cur_ms,
        "targetScanOverheadMillis": tgt_ms,
        "totalFilesCount": files,
        "targetFilesCount": tgt_files,
    }
    d.update(extra)
    return d


_RESPONSE = {
    "analysisResults": [
        {
            "table": _partition(
                "db.web_events", 4000, 3600, 2000, 200, 1000, 10,
                totalPartitionsCount=25,
                totalDataFileCount=800,
                totalDataFileSizeBytes=3200,
            ),
            "largestPartition": _partition("p=9", 900, 880, 0, 0, 0, 0),
            "worstOverheadPartition": _partition("p=3", 0, 0, 500, 25, 0, 0),
            "worstFilesCountPartition": _partition("p=7", 0, 0, 0, 0, 400, 2),
            "worstAvgFileSizePartition": _partition(
                "p=1", 100, 90, 0, 0, 0, 3,
                totalDataFileCount=50,
                totalDataFileSizeBytes=100,
            ),
        }
    ],
    "errors": [
        {"table": "db.broken", "error": "boom"},
        {"table": "", "error": "no table"},
        {"table": "db.mystery", "error": None},
    ],
}


def test_response_metrics(spark):
    results = parse_response_json(spark, [json.dumps(_RESPONSE)])
    rows = response_metrics(results).collect()
    assert [r["metric"] for r in rows] == [
        "FULL_SCAN_OVERHEAD",
        "WORST_SCAN_OVERHEAD",
        "FILE_COUNT",
        "WORST_FILE_COUNT",
        "AVG_FILE_SIZE",
        "WORST_AVG_FILE_SIZE",
        "TOTAL_TABLE_SIZE",
        "LARGEST_PARTITION_SIZE",
        "TOTAL_PARTITIONS",
    ]
    by = {r["metric"]: r for r in rows}
    assert by["FULL_SCAN_OVERHEAD"]["before"] == 2000.0
    assert by["FULL_SCAN_OVERHEAD"]["after"] == 200.0
    assert by["FULL_SCAN_OVERHEAD"]["improvement"] == pytest.approx(90.0)
    assert by["WORST_SCAN_OVERHEAD"]["before"] == 500.0
    assert by["FILE_COUNT"]["improvement"] == pytest.approx(99.0)
    # derived averages: size/count with 0-guard (response.py:51-64)
    assert by["AVG_FILE_SIZE"]["before"] == pytest.approx(4.0)  # 3200/800
    assert by["AVG_FILE_SIZE"]["after"] == pytest.approx(360.0)  # 3600/10
    assert by["WORST_AVG_FILE_SIZE"]["before"] == pytest.approx(2.0)  # 100/50
    assert by["WORST_AVG_FILE_SIZE"]["after"] == pytest.approx(30.0)  # 90/3
    assert by["TOTAL_PARTITIONS"]["before"] == 25.0
    assert by["TOTAL_PARTITIONS"]["after"] is None
    assert by["TOTAL_PARTITIONS"]["improvement"] is None
    # all rows carry the table identity
    assert {r["table_name"] for r in rows} == {"db.web_events"}


def test_extract_errors_drops_blank_tables(spark):
    errs = extract_errors(spark, [json.dumps(_RESPONSE)]).collect()
    got = {(r["table"], r["error"]) for r in errs}
    assert got == {("db.broken", "boom"), ("db.mystery", "Unknown Error")}


def test_probe_raises_on_bad_catalog(spark):
    from iceberg_diag_spark.errors import CatalogBindError

    with pytest.raises(CatalogBindError):
        connection_probe(spark, catalog="no_such_catalog_xyz")


# --------------------------------------------------------------------
# table identifier parse (F5, reference metrics/table.py:1-22)
# --------------------------------------------------------------------

def test_table_from_full_name_reference_parity():
    from iceberg_diag_spark.functions.identifiers import Table

    assert Table.from_full_name("db.tbl") == Table("db", "tbl")
    assert Table.from_full_name("  db.tbl  ") == Table("db", "tbl")
    # first-dot split: dots stay in the table name
    assert Table.from_full_name("a.b.c") == Table("a", "b.c")
    # reference quirk: dotless input keeps the ORIGINAL unstripped
    # string as the table name with an empty database
    assert Table.from_full_name("plain") == Table("", "plain")
    assert Table.from_full_name(" plain ") == Table("", " plain ")
    assert str(Table("db", "tbl")) == "db.tbl"


def test_cli_accepts_qualified_table_name(spark, capsys):
    from iceberg_diag_spark.cli import main

    # qualified name with a database that doesn't exist → clean
    # DiagError path, proving the parse routed into the catalog branch
    assert main(["--table-name", "no_such_db_xyz.some_tbl"], spark=spark) == 1
    assert "error:" in capsys.readouterr().out
