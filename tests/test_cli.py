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


def test_cli_files_missing_path_reports_error(spark, capsys, tmp_path):
    missing = str(tmp_path / "no_such.parquet")
    assert main(["--files", missing], spark=spark) == 1
    out = capsys.readouterr().out
    assert out.startswith("error:") and "no_such.parquet" in out


def test_cli_files_without_panel_column_reports_error(
    spark, capsys, tmp_path
):
    path = str(tmp_path / "sizes_only.parquet")
    spark.createDataFrame(
        [("p0", 0)], "partition_key string, content int"
    ).write.parquet(path)
    assert main(["--files", path], spark=spark) == 1
    out = capsys.readouterr().out
    assert out.startswith("error:") and "file_size_in_bytes" in out


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


def test_negative_manifest_count_is_rejected(spark, capsys):
    with pytest.raises(SystemExit) as ex:
        main(
            ["--files", "unused.parquet", "--manifest-count", "-50"],
            spark=spark,
        )
    assert ex.value.code == 2
    assert "--manifest-count must be >= 0" in capsys.readouterr().err


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


def test_cli_skips_non_iceberg_tables(spark, capsys):
    """A glob that matches only non-Iceberg tables has nothing to
    diagnose: the CLI reports it instead of reading a `.files`
    metadata table that a plain table does not have."""
    spark.sql("CREATE DATABASE IF NOT EXISTS probe_db")
    spark.range(3).write.mode("overwrite").saveAsTable("probe_db.plain_t")
    try:
        assert main(
            ["--database", "probe_db", "--table-name", "*"], spark=spark
        ) == 1
        out = capsys.readouterr().out
        assert "error:" in out and "no tables match" in out
    finally:
        spark.sql("DROP TABLE IF EXISTS probe_db.plain_t")
        spark.sql("DROP DATABASE IF EXISTS probe_db")


class _MetadataSession:
    """A session whose ``table()`` answers the ``.files`` and
    ``.manifests`` metadata tables of the tables in ``meta`` (the
    local catalog has no Iceberg runtime) and records every name it
    is asked for; everything else goes to the wrapped session."""

    def __init__(self, spark, meta: dict):
        self._spark = spark
        self._meta = meta
        self.read: list[str] = []

    def table(self, name: str):
        self.read.append(name)
        return self._meta[name] if name in self._meta else self._spark.table(name)

    def __getattr__(self, attr):
        return getattr(self._spark, attr)


def test_cli_diagnoses_only_matched_iceberg_tables(
    spark, capsys, monkeypatch
):
    """The glob `ice_*` matches an Iceberg table and a plain one: the
    Iceberg table is diagnosed, the plain one is skipped, and a table
    the glob does not match is never probed."""
    from iceberg_diag_spark.sources import catalog as cat

    probed = []

    def provider(spark_, qualified):
        probed.append(qualified)
        return "iceberg" if qualified == "probe_db.ice_t" else "parquet"

    monkeypatch.setattr(cat, "_provider", provider)
    spark.sql("CREATE DATABASE IF NOT EXISTS probe_db")
    for t in ("ice_t", "ice_plain", "other_t"):
        spark.range(3).write.mode("overwrite").saveAsTable(f"probe_db.{t}")
    files = spark.createDataFrame(
        [((1,), 1_000, 0), ((1,), 2_000, 0), ((2,), 64_000_000, 0)],
        "partition struct<p:int>, file_size_in_bytes long, content int",
    )
    session = _MetadataSession(spark, {
        "probe_db.ice_t.files": files,
        "probe_db.ice_t.manifests": spark.range(2),
    })
    try:
        assert main(
            ["--database", "probe_db", "--table-name", "ice_*"],
            spark=session,
        ) == 0
        out = capsys.readouterr().out
        assert "probe_db.ice_t" in out and "ice_plain" not in out
        assert sorted(probed) == ["probe_db.ice_plain", "probe_db.ice_t"]
        assert sorted(session.read) == [
            "probe_db.ice_t.files", "probe_db.ice_t.manifests"
        ]
    finally:
        for t in ("ice_t", "ice_plain", "other_t"):
            spark.sql(f"DROP TABLE IF EXISTS probe_db.{t}")
        spark.sql("DROP DATABASE IF EXISTS probe_db")


def test_cli_reports_unreadable_table_provider(spark, capsys, monkeypatch):
    """A matched table whose provider cannot be read is a catalog
    error the CLI reports, not an empty namespace and not a crash."""
    from pyspark.errors import AnalysisException

    from iceberg_diag_spark.sources import catalog as cat

    def provider(spark_, qualified):
        raise AnalysisException("catalog unreachable")

    monkeypatch.setattr(cat, "_provider", provider)
    spark.sql("CREATE DATABASE IF NOT EXISTS probe_db")
    spark.range(3).write.mode("overwrite").saveAsTable("probe_db.plain_t")
    try:
        assert main(
            ["--database", "probe_db", "--table-name", "*"], spark=spark
        ) == 1
        out = capsys.readouterr().out
        assert "error:" in out and "probe_db.plain_t" in out
    finally:
        spark.sql("DROP TABLE IF EXISTS probe_db.plain_t")
        spark.sql("DROP DATABASE IF EXISTS probe_db")
