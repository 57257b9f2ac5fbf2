"""CLI entry point mirroring the reference's surface
(icebergdiag/cli.py:40-50,185-192 — EP1 local diagnostics, EP2
catalog listing):

  python -m iceberg_diag_spark                        # list namespaces
  python -m iceberg_diag_spark --database db          # list tables
  python -m iceberg_diag_spark --database db --table-name 'pat*'
                                                      # diagnose tables
  python -m iceberg_diag_spark --files files.parquet  # diagnose a
                                                      # data_files relation

Against an Iceberg catalog the per-table source is the `.files`
metadata table (SURVEY §2 S4); `--files` takes any parquet with the
same (partition_key, file_size_in_bytes, content) shape so the full
pipeline runs without a catalog. Multi-table diagnosis fans out on a
thread pool and prints each table's panel as its Spark job completes
(as_completed streaming, SURVEY §2 X3, reference cli.py:131-138);
Spark's scheduler interleaves the concurrent jobs (SURVEY §2 X1).

The reference's --remote mode (EP3) ships AWS credentials to an
external API — deliberately not replicated; its response-parsing
surface lives in sources/response.py.
"""

from __future__ import annotations

import argparse
import sys
from collections.abc import Iterator

from pyspark.sql import SparkSession


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="iceberg-diag-spark",
        description="PySpark-native Iceberg table diagnostics",
    )
    p.add_argument("--database", help="namespace to list/diagnose")
    p.add_argument(
        "--table-name",
        help="glob pattern of tables to diagnose (requires --database)",
    )
    p.add_argument(
        "--files",
        help="diagnose a data_files-shaped parquet "
        "(partition_key, file_size_in_bytes, content)",
    )
    p.add_argument(
        "--manifest-count", type=int, default=0,
        help="manifest file count for the scan-overhead model",
    )
    p.add_argument(
        "--catalog", help="Spark catalog name (defaults to the session catalog)"
    )
    p.add_argument(
        "--maintenance",
        action="store_true",
        help="also print maintenance panels: per-partition delete-file "
        "burden (rewrite-deletes signal), and — when the files "
        "relation carries an added_at timestamp — the expire-"
        "snapshots retention simulation",
    )
    return p


def _render_df(df) -> str:
    rows = df.limit(1000).collect()
    cols = df.columns
    widths = [
        max(len(c), *(len(str(r[i])) for r in rows)) if rows else len(c)
        for i, c in enumerate(cols)
    ]
    line = " | ".join(c.ljust(w) for c, w in zip(cols, widths))
    out = [line, "-" * len(line)]
    out += [
        " | ".join(str(v).ljust(w) for v, w in zip(r, widths)) for r in rows
    ]
    return "\n".join(out)


def _print_df(df) -> None:
    print(_render_df(df))


# The data_files columns the panel reads.
FILES_COLUMNS = ("partition_key", "file_size_in_bytes", "content")


def _read_files(spark: SparkSession, path: str):
    """The --files relation. A missing path or a missing panel column
    is a DiagError; the column check reads the schema the parquet
    reader already resolved, so it starts no Spark job."""
    from pyspark.errors import AnalysisException

    from iceberg_diag_spark.errors import FilesNotFound, FilesSchemaError

    try:
        df = spark.read.parquet(path)
    except AnalysisException as ex:
        if ex.getCondition() == "PATH_NOT_FOUND":
            raise FilesNotFound(path) from ex
        raise
    missing = [c for c in FILES_COLUMNS if c not in df.columns]
    if missing:
        raise FilesSchemaError(path, missing)
    return df


def _render_panel(files_df, manifest_count: int, title: str) -> str:
    from iceberg_diag_spark.operators.diagnostics import table_metrics
    from iceberg_diag_spark.operators.display import format_metrics

    return f"\n== {title} ==\n" + _render_df(
        format_metrics(table_metrics(files_df, manifest_count))
    )


def _render_maintenance(files_df, title: str) -> str:
    """Maintenance panels over a data_files-shaped relation: the
    delete-burden table always; the retention simulation only when
    the relation carries an added_at timestamp (the `.files` contract
    has no timestamps — callers join `.entries`/`.snapshots` to get
    them, or load an augmented parquet via --files). Every table is
    ordered by partition, so the rows the 1000-row cap keeps do not
    depend on the shuffle partitioning."""
    from iceberg_diag_spark.operators.maintenance import (
        delete_impact,
        snapshot_retention,
    )

    out = [
        f"\n-- {title}: delete-file burden --",
        _render_df(delete_impact(files_df).orderBy("partition_key")),
    ]
    if "added_at" in files_df.columns:
        out += [
            f"\n-- {title}: snapshot retention (180d) --",
            _render_df(snapshot_retention(files_df).orderBy("partition_key")),
        ]
    if "readable_metrics" in files_df.columns:
        # real `.files` relations (Iceberg ≥ 1.2) carry per-column
        # typed bounds — surface the sort-column advisor on them
        from iceberg_diag_spark.operators.maintenance import (
            clustering_advisor,
        )
        from iceberg_diag_spark.sources.iceberg_meta import (
            readable_metrics_to_column_stats,
        )

        out += [
            f"\n-- {title}: sort-column advisor (fewest overlapping "
            "file ranges first) --",
            _render_df(
                clustering_advisor(
                    readable_metrics_to_column_stats(files_df)
                ).orderBy("overlap_pairs", "col_name")
            ),
        ]
    return "\n".join(out)


def _report(
    files_df, manifest_count: int, title: str, maintenance: bool
) -> Iterator[str]:
    """One table's report: its panel, then the maintenance panels when
    asked, each yielded as soon as it is rendered so a caller can print
    the panel before the maintenance scans run."""
    yield _render_panel(files_df, manifest_count, title)
    if maintenance:
        yield _render_maintenance(files_df, title)


def stream_panels(jobs: dict):
    """Run one job per table on a thread pool and yield each
    (name, rendered_panel) AS ITS JOB COMPLETES — the reference
    renders per-table results via as_completed rather than waiting
    for the whole batch (icebergdiag/cli.py:131-138, SURVEY §2 X3).
    Spark's scheduler is thread-safe: each worker thread submits an
    independent job and blocks on its own collect, so a fast table's
    panel prints while a slow table is still scanning."""
    from concurrent.futures import ThreadPoolExecutor, as_completed

    if not jobs:
        return
    with ThreadPoolExecutor(max_workers=min(8, len(jobs))) as pool:
        futures = {pool.submit(fn): name for name, fn in jobs.items()}
        for fut in as_completed(futures):
            yield futures[fut], fut.result()


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    parser = _build_parser()
    args = parser.parse_args(argv)
    if args.manifest_count < 0:
        parser.error("--manifest-count must be >= 0")
    if args.table_name and not args.database:
        # accept a qualified "db.tbl" (reference Table.from_full_name,
        # metrics/table.py:7-13); otherwise the pattern is ambiguous
        from iceberg_diag_spark.functions.identifiers import Table

        t = Table.from_full_name(args.table_name)
        if t.database:
            args.database, args.table_name = t.database, t.table_name
        else:
            parser.error(
                "--table-name requires --database (or a qualified "
                "'db.table' name)"
            )
    own_session = spark is None
    if spark is None:
        from iceberg_diag_spark.session import get_spark

        spark = get_spark(app_name="iceberg-diag-spark-cli")
        spark.sparkContext.setLogLevel("ERROR")

    from iceberg_diag_spark.errors import DiagError
    from iceberg_diag_spark.sources import catalog as cat

    try:
        if args.files:
            for part in _report(
                _read_files(spark, args.files),
                args.manifest_count,
                args.files,
                args.maintenance,
            ):
                print(part)
        elif args.database and args.table_name:
            # only Iceberg tables have the .files/.manifests metadata
            # tables (reference manager.py:84-113 filters by table type)
            tables = [
                r.table_name
                for r in cat.iceberg_tables(
                    spark, args.database, args.table_name
                ).collect()
            ]
            if not tables:
                from iceberg_diag_spark.errors import NoMatchingTables

                raise NoMatchingTables(args.database, args.table_name)
            from iceberg_diag_spark.sources.iceberg_meta import (
                data_files_from_files_table,
            )

            def _table_job(t: str):
                def run() -> str:
                    files = data_files_from_files_table(
                        spark.table(f"{args.database}.{t}.files")
                    )
                    manifests = spark.table(
                        f"{args.database}.{t}.manifests"
                    ).count()
                    return "\n".join(_report(
                        files, manifests, f"{args.database}.{t}", args.maintenance
                    ))

                return run

            for _name, panel in stream_panels(
                {t: _table_job(t) for t in tables}
            ):
                print(panel)
        elif args.database:
            _print_df(cat.list_tables(spark, args.database))
        else:
            _print_df(cat.list_namespaces(spark, args.catalog))
        return 0
    except DiagError as ex:
        print(f"error: {ex}")
        return 1
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
