"""Shared infrastructure for the query-registry family modules.

Every operator exposed through the driver contract lives in one of
the plans/oracles_*.py family modules, grouped by the operator it
calls; each registers its entries into the REGISTRY dict defined
here, and plans/registry.py imports every family.

Each entry pairs a Spark DataFrame builder ``(spark, sf_dir) -> DF``
with (where expressible) an equivalent DuckDB SQL oracle over the
same parquet tables. The driver hash-compares values column-by-column
after sorting by name, so builders and SQL alias every computed
column identically.

Cross-engine determinism rules used throughout (verified in
tests/test_oracle_parity.py):
- integer casts: Spark ``cast("long")`` truncates while DuckDB
  ``CAST(double AS BIGINT)`` rounds → oracles always use
  ``CAST(FLOOR(x) AS BIGINT)`` (inputs are non-negative).
- money sums: floor-to-integer-cents per row, then exact integer
  sums — immune to float summation order.
- division by FETCH_SIZE (2^25) is exact in doubles, so DIV ≡
  floor(double division) on both engines.
- DuckDB aggregate sums of BIGINT return HUGEINT → always CAST back
  to BIGINT; row_number returns BIGINT → Spark side casts to long.
- timestamps: UTC session timezone; formatted to strings on output.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from iceberg_diag_spark.sources.tpch import load_table

PROXY_MANIFEST_COUNT = 10

# Shared oracle prelude: the lineitem → data_files proxy
# (FIXTURES.md §3: partition=l_returnflag, size≈extendedprice bytes).
FILES_CTE = """
  SELECT l_returnflag AS partition_key,
         CAST(FLOOR(l_extendedprice * 1000) AS BIGINT) AS file_size_in_bytes,
         CAST(l_linenumber % 3 AS INTEGER) AS content
  FROM lineitem
"""


@dataclass(frozen=True)
class QuerySpec:
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → rows-only driver check
    doc: str


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _stream_table(
    op: Callable[[DataFrame], DataFrame],
    output_mode: str,
    name: str,
    read: Callable[[SparkSession, str], DataFrame] | None = None,
) -> Callable[[SparkSession, str], DataFrame]:
    """Builder of a plain streaming entry: ``op`` over the file stream
    ``read`` opens (the events stream by default), drained by
    stream_ops.run_to_table into a table."""
    from iceberg_diag_spark.streaming import stream_ops

    read = read or stream_ops.read_events_stream
    return lambda spark, sf_dir: stream_ops.run_to_table(
        op(read(spark, sf_dir)), output_mode, name
    )


# Populated by the family modules on import; entries are looked up by
# name, so insertion order carries no meaning.
REGISTRY: dict[str, QuerySpec] = {}
