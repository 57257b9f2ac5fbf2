"""Streaming seasonality twin: multi-batch accumulation through the
persistent (type, hour_epoch) rollup equals the batch profile on the
full feed — including a weekly cell split across micro-batches, which
only sums correctly because hourly count partials compose.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from iceberg_diag_spark.operators.events import seasonality_profile
from iceberg_diag_spark.streaming import stream_ops as so

from helpers import write_event_file


def _mk_rows(day: str, hour: int, n: int, eid0: int):
    rows = []
    eid = eid0
    for i in range(n):
        eid += 1
        rows.append(
            (eid, f"{day} {hour:02d}:{i % 60:02d}:{i // 60:02d}", 1,
             "click", 1.0, "{}")
        )
    return rows, eid


def test_multi_batch_drain_equals_batch_profile(spark, tmp_path_factory):
    """Two files drained one-per-trigger: the re-summed rollup must
    re-derive EXACTLY the batch profile — the (Mon, 09) cell receives
    hours from both micro-batches and a second week only via file 2,
    so both the cell means and the outlier flags depend on correct
    cross-batch summation."""
    root = str(tmp_path_factory.mktemp("seasonality"))
    base = root + "/events.parquet"
    os.makedirs(base)
    # 2024-01-01 and 2024-01-08 are Mondays
    r1, eid = _mk_rows("2024-01-01", 9, 10, 0)
    r2, eid = _mk_rows("2024-01-01", 3, 2, eid)
    write_event_file(spark, base, "f1.parquet", r1 + r2)
    r3, eid = _mk_rows("2024-01-08", 9, 40, eid)  # same weekly cell
    r4, eid = _mk_rows("2024-01-02", 3, 2, eid)
    write_event_file(spark, base, "f2.parquet", r3 + r4)

    rollup = tempfile.mkdtemp(prefix="seasonality_rollup_test_")
    try:
        q = so.seasonality_profile_stream(
            so.read_events_stream(spark, root, max_files_per_trigger=1),
            rollup,
        )
        assert q.awaitTermination(120)
        q.stop()
        batches = [d for d in os.listdir(rollup) if d.startswith("batch=")]
        assert len(batches) == 2
        got = {
            (r["dow"], r["hod"]): r.asDict()
            for r in so.seasonality_from_rollup(spark, rollup).collect()
        }
    finally:
        shutil.rmtree(rollup, ignore_errors=True)

    from iceberg_diag_spark.sources.tpch import normalize_event_ts

    ev = normalize_event_ts(spark.read.parquet(base))
    want = {
        (r["dow"], r["hod"]): r.asDict()
        for r in seasonality_profile(ev).collect()
    }
    assert got == want
    # the cross-batch Monday-09 cell: hours [10, 40] -> cell mean 25;
    # the 40-hour is under the 2x-high bar (40 < 50) but the 10-hour
    # trips the low bar (2*10*2 = 40 < 50), so exactly one outlier —
    # a value that is only correct if both batches landed in the cell
    mon9 = got[(1, 9)]
    assert mon9["cell_hours"] == 2 and mon9["cell_total"] == 50
    assert mon9["n_outlier_hours"] == 1
