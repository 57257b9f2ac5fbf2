"""Scan cost model as Spark SQL text.

Semantics from the reference (constants and formula:
``icebergdiag/metrics/table_metrics.py:17-19,200-210``):
  read_cost(bytes) = bytes DIV 32MiB + 2   (floor division)
  overhead_ms     = read_cost * 1 ms, plus 1 ms per manifest file.
  compaction target group = 750 MiB (group closes only after the
  running size already EXCEEDS the cap — "check before append").

The formula is written once, as SQL text (``READ_COST_SQL``), so it
folds into whole-stage codegen and callers can splice it into the
aggregate text of a stage — no Python in the hot path and no py4j
call to build it. ``read_cost_array`` is the same formula over numpy
arrays, for the Arrow folds that cannot run SQL.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

FETCH_SIZE = 32 * 1024 * 1024
MAX_GROUP_BYTE_SIZE = 750 * 1024 * 1024
MILLISECONDS_PER_SCAN = 1

# Iceberg DataFileContent codes (Iceberg spec).
CONTENT_DATA = 0
CONTENT_POSITION_DELETES = 1
CONTENT_EQUALITY_DELETES = 2

# size DIV 32MiB + 2, for a non-negative byte count: the double quotient
# is exact (32MiB is a power of two), so the truncating cast is DIV.
READ_COST_SQL = f"CAST(CAST({{size}} AS BIGINT) / {FETCH_SIZE} AS BIGINT) + 2"
SCAN_OVERHEAD_SQL = f"({READ_COST_SQL}) * {MILLISECONDS_PER_SCAN}"


def read_file_cost(size: str) -> Column:
    """Cost units to read one file of the ``size`` column's bytes."""
    return F.expr(READ_COST_SQL.format(size=size))


def scan_overhead_ms(size: str) -> Column:
    """Per-file scan overhead in milliseconds of the ``size`` column."""
    return F.expr(SCAN_OVERHEAD_SQL.format(size=size))


def read_cost_array(sizes: np.ndarray) -> np.ndarray:
    """``READ_COST_SQL`` over an int64 array of byte counts."""
    return sizes // FETCH_SIZE + 2
