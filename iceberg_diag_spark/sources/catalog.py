"""Catalog surface (SURVEY §2 S1-S3, P1, O1): namespace / table
listing with glob filtering, expressed against the Spark catalog so
the same calls work on an Iceberg catalog
(``spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog``)
or the local session catalog in tests.

Reference behavior mirrored:
- list_namespaces → sorted namespace names (manager.py:74-76);
- list_tables(db, pattern) → paginated scan + fnmatch glob + sort
  (manager.py:84-113) — Spark's SHOW TABLES handles pagination
  internally; the glob becomes an anchored regex filter evaluated in
  the engine, not the driver;
- iceberg_tables(db, pattern) → the same listing plus the
  reference's Iceberg-type filter, probing only the glob's matches;
  the CLI diagnoses the tables it keeps;
- a LIMIT 1 existence probe (manager.py:63-72).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from iceberg_diag_spark.functions.formatting import glob_to_regex


def list_namespaces(spark: SparkSession, catalog: str | None = None) -> DataFrame:
    """Sorted namespace listing (S1/O1)."""
    target = f" IN {catalog}" if catalog else ""
    df = spark.sql(f"SHOW NAMESPACES{target}")
    col = df.columns[0]
    return df.select(F.col(col).alias("namespace")).orderBy("namespace")


def list_tables(
    spark: SparkSession, database: str, pattern: str = "*"
) -> DataFrame:
    """Sorted table listing with glob filter (S2/P1/F4/O1). Raises
    DatabaseNotFound for a missing namespace (reference:
    EntityNotFoundException → DatabaseNotFound, manager.py:81-82)."""
    from pyspark.errors import AnalysisException

    from iceberg_diag_spark.errors import DatabaseNotFound

    try:
        df = spark.sql(f"SHOW TABLES IN {database}")
    except AnalysisException as ex:
        raise DatabaseNotFound(database) from ex
    return (
        df.select(F.col("tableName").alias("table_name"))
        .filter(F.col("table_name").rlike(glob_to_regex(pattern)))
        .orderBy("table_name")
    )


def _provider(spark: SparkSession, qualified: str) -> str:
    """The ``Provider`` that DESCRIBE TABLE EXTENDED reports for a
    table ('' when it reports none)."""
    detail = spark.sql(f"DESCRIBE TABLE EXTENDED {qualified}").collect()
    return next(
        (str(r["data_type"]) for r in detail if r["col_name"] == "Provider"),
        "",
    )


def iceberg_tables(
    spark: SparkSession, database: str, pattern: str = "*"
) -> DataFrame:
    """S3: the tables of ``list_tables(database, pattern)`` whose
    provider is Iceberg, sorted. Only the glob's matches are probed;
    non-Iceberg session catalogs yield an empty result rather than an
    error.

    The per-table DESCRIBE probes fan out across a thread pool (the
    reference's own per-table fan-out idiom, X1/cli.py:148): catalog
    RPCs are latency-bound, not CPU-bound, so a 10k-table namespace
    pays ~N/10 sequential waves instead of N round-trips. Spark
    sessions are thread-safe for concurrent sql() calls."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.errors import AnalysisException

    from iceberg_diag_spark.errors import CatalogBindError

    def probe(name: str) -> str | None:
        try:
            provider = _provider(spark, f"{database}.{name}")
        except AnalysisException as ex:
            # a temp view (listed with the namespace's tables) or a
            # table dropped since the listing is not an Iceberg table;
            # any other failure, such as an unreachable catalog, must
            # not read as "no tables"
            if ex.getCondition() == "TABLE_OR_VIEW_NOT_FOUND":
                return None
            raise CatalogBindError(
                f"cannot read the provider of {database}.{name}: {ex}"
            ) from ex
        return name if "iceberg" in provider.lower() else None

    names = [
        r.table_name for r in list_tables(spark, database, pattern).collect()
    ]
    rows: list[tuple[str]] = []
    if names:
        with ThreadPoolExecutor(max_workers=min(10, len(names))) as pool:
            rows = [(n,) for n in pool.map(probe, names) if n is not None]
    return spark.createDataFrame(rows or [], "table_name string").orderBy(
        "table_name"
    )


def connection_probe(spark: SparkSession, catalog: str | None = None) -> bool:
    """S5: LIMIT-1 existence scan validating the catalog binding.

    Returns True when the catalog answers and exposes at least one
    namespace; False for an empty-but-reachable catalog. An unbound /
    misconfigured catalog raises CatalogBindError (the reference maps
    probe failures to its error taxonomy, manager.py:63-72)."""
    from pyspark.errors import AnalysisException

    from iceberg_diag_spark.errors import CatalogBindError

    target = f" IN {catalog}" if catalog else ""
    try:
        rows = spark.sql(f"SHOW NAMESPACES{target}").limit(1).collect()
    except AnalysisException as ex:
        raise CatalogBindError(
            f"catalog probe failed for {catalog or '<session>'}: {ex}"
        ) from ex
    return len(rows) > 0
