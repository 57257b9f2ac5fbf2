"""CLI surface: namespace/table listing and the --files diagnostics
path end-to-end (EP1/EP2 parity with the reference's cli.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iceberg_diag_spark.cli import main
from iceberg_diag_spark.sources.data_files import files_from_lineitem
from iceberg_diag_spark.sources.tpch import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_cli_lists_namespaces(spark, capsys):
    assert main([], spark=spark) == 0
    out = capsys.readouterr().out
    assert "namespace" in out and "default" in out


def test_cli_lists_tables_with_glob(spark, capsys):
    spark.sql("CREATE TABLE IF NOT EXISTS cli_demo_a (x INT) USING parquet")
    spark.sql("CREATE TABLE IF NOT EXISTS cli_demo_b (x INT) USING parquet")
    spark.sql("CREATE TABLE IF NOT EXISTS other_tbl (x INT) USING parquet")
    try:
        assert main(["--database", "default"], spark=spark) == 0
        out = capsys.readouterr().out
        assert "cli_demo_a" in out and "other_tbl" in out
    finally:
        for t in ("cli_demo_a", "cli_demo_b", "other_tbl"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_cli_diagnoses_files_parquet(spark, capsys, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("cli_files")) + "/files.parquet"
    files = files_from_lineitem(load_table(spark, SF_DIR, "lineitem"))
    files.write.mode("overwrite").parquet(out_dir)
    assert main(
        ["--files", out_dir, "--manifest-count", "10"], spark=spark
    ) == 0
    out = capsys.readouterr().out
    assert "FILE_COUNT" in out or "Total File Count" in out
    assert "%" in out  # improvement column rendered


def test_cli_no_match_returns_error(spark, capsys):
    assert (
        main(["--database", "default", "--table-name", "zzz_*"], spark=spark)
        == 1
    )
    assert "no tables match" in capsys.readouterr().out


def test_missing_database_raises_and_cli_reports(spark, capsys):
    from iceberg_diag_spark.errors import DatabaseNotFound
    from iceberg_diag_spark.sources import catalog as cat

    with pytest.raises(DatabaseNotFound):
        cat.list_tables(spark, "no_such_db_xyz").collect()
    assert main(["--database", "no_such_db_xyz"], spark=spark) == 1
    assert "error:" in capsys.readouterr().out


def test_table_name_without_database_is_rejected(spark, capsys):
    with pytest.raises(SystemExit) as ex:
        main(["--table-name", "anything"], spark=spark)
    assert ex.value.code == 2
    assert "--table-name requires --database" in capsys.readouterr().err


def test_stream_panels_yields_in_completion_order():
    """X3: panels surface as their jobs complete, not in submission
    order — a slow first table must not block a fast second one."""
    import time

    from iceberg_diag_spark.cli import stream_panels

    def slow():
        time.sleep(1.0)
        return "panel-slow"

    def fast():
        time.sleep(0.05)
        return "panel-fast"

    def mid():
        time.sleep(0.4)
        return "panel-mid"

    got = list(stream_panels({"slow": slow, "fast": fast, "mid": mid}))
    assert [name for name, _ in got] == ["fast", "mid", "slow"]
    assert dict(got)["slow"] == "panel-slow"


def test_stream_panels_propagates_job_errors():
    from iceberg_diag_spark.cli import stream_panels

    def boom():
        raise RuntimeError("table exploded")

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="table exploded"):
        list(stream_panels({"bad": boom}))


def test_cli_maintenance_panels(spark, capsys, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("cli_maint")) + "/files.parquet"
    li = load_table(spark, SF_DIR, "lineitem")
    li.select(
        F.col("l_returnflag").alias("partition_key"),
        (F.col("l_extendedprice") * 1000).cast("long").alias("file_size_in_bytes"),
        (F.col("l_linenumber") % 3).cast("int").alias("content"),
        F.col("l_shipdate").alias("added_at"),
    ).write.mode("overwrite").parquet(out_dir)
    assert main(
        ["--files", out_dir, "--manifest-count", "10", "--maintenance"],
        spark=spark,
    ) == 0
    out = capsys.readouterr().out
    assert "delete-file burden" in out
    assert "delete_per_data_ppm" in out
    # added_at present -> retention panel rendered too
    assert "snapshot retention" in out
    assert "reclaimable_bytes" in out


def test_cli_maintenance_skips_retention_without_timestamps(
    spark, capsys, tmp_path_factory
):
    out_dir = str(tmp_path_factory.mktemp("cli_maint2")) + "/files.parquet"
    files = files_from_lineitem(load_table(spark, SF_DIR, "lineitem"))
    files.write.mode("overwrite").parquet(out_dir)
    assert main(
        ["--files", out_dir, "--maintenance"], spark=spark
    ) == 0
    out = capsys.readouterr().out
    assert "delete-file burden" in out
    assert "snapshot retention" not in out


def test_cli_maintenance_output_independent_of_shuffle_partitions(
    spark, capsys, tmp_path_factory
):
    """The maintenance panels are ordered by partition, so the printed
    rows (and the subset the row cap keeps) do not depend on how many
    shuffle partitions, and so cores, the session has."""
    out_dir = str(tmp_path_factory.mktemp("cli_maint_order")) + "/files.parquet"
    spark.range(3000).select(
        (F.col("id") % 400).cast("string").alias("partition_key"),
        ((F.col("id") * 7919) % 900_000_000 + 1).alias("file_size_in_bytes"),
        (F.col("id") % 3).cast("int").alias("content"),
        F.expr("timestamp'2024-01-01' + make_interval(0, 0, 0, id % 700)").alias(
            "added_at"
        ),
    ).write.mode("overwrite").parquet(out_dir)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    outs = []
    try:
        for n in ("4", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            assert main(["--files", out_dir, "--maintenance"], spark=spark) == 0
            outs.append(capsys.readouterr().out)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert "snapshot retention" in outs[0]
    assert outs[0] == outs[1]
