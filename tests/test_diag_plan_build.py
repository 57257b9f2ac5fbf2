"""Driver-side plan-build cost of the diagnostics panels.

Building a panel's DataFrame runs no Spark job, but every PySpark
Column call is one or more py4j round trips to the JVM (PySpark 4.1
also records a call site per call). The panel builders assemble their
expressions as SQL text, so each stage costs one ``selectExpr`` or
``agg`` call. These tests count the py4j commands one build sends and
pin a ceiling well below the Column-ladder builders (about 2,900, 570
and 430 round trips for the panel, ``delete_impact`` and
``snapshot_retention``). The panel's per-partition stage,
``partition_stats_with_after``, is one grouped aggregate and one
projection: 54 round trips, against 91 for the Arrow fold it replaced
(``select``, ``repartition``, ``sortWithinPartitions``, ``mapInArrow``),
which takes the whole panel from 183 to 146-170.
"""

from __future__ import annotations

import datetime as dt
import gc

import py4j.clientserver as cs
import pytest

from iceberg_diag_spark.operators.diagnostics import (
    partition_stats_with_after,
    table_metrics,
)
from iceberg_diag_spark.operators.display import format_metrics
from iceberg_diag_spark.operators.maintenance import (
    delete_impact,
    snapshot_retention,
)


def _round_trips(build) -> int:
    """py4j commands sent while ``build()`` runs: the min of 3 builds,
    with cyclic GC off, so py4j's finalizers (which send their own
    commands when garbage is collected) drop out."""
    send = cs.ClientServerConnection.send_command
    sent = [0]

    def counting(self, *args, **kwargs):
        sent[0] += 1
        return send(self, *args, **kwargs)

    build()  # imports and lazy JVM class lookups happen once
    counts = []
    for _ in range(3):
        gc.collect()
        gc.disable()
        cs.ClientServerConnection.send_command = counting
        try:
            sent[0] = 0
            build()
            counts.append(sent[0])
        finally:
            cs.ClientServerConnection.send_command = send
            gc.enable()
    return min(counts)


@pytest.fixture(scope="module")
def files(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (f"p{i % 5}", (i * 7_919_000) % (900 << 20) + 1, i % 3,
         t0 + dt.timedelta(days=3 * i))
        for i in range(60)
    ]
    return spark.createDataFrame(
        rows,
        "partition_key string, file_size_in_bytes long, content int,"
        " added_at timestamp",
    )


@pytest.mark.parametrize(
    "name,build,ceiling",
    [
        ("panel", lambda f: format_metrics(table_metrics(f, 10)), 180),
        ("partition_stats_with_after", partition_stats_with_after, 70),
        ("delete_impact", delete_impact, 150),
        ("snapshot_retention", snapshot_retention, 150),
    ],
)
def test_panel_builders_stay_under_round_trip_ceiling(files, name, build, ceiling):
    n = _round_trips(lambda: build(files))
    assert n <= ceiling, f"{name}: {n} py4j round trips > {ceiling}"
