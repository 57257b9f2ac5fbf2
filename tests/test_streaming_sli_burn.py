"""Streaming burn-rate twin: multi-batch accumulation through the
persistent hourly rollup equals the batch operator on the full feed,
and per-batch rollup writes are idempotent by batch directory."""

from __future__ import annotations

import os
import shutil
import tempfile

from iceberg_diag_spark.operators.events import sli_burn_rate
from iceberg_diag_spark.streaming import stream_ops as so

from helpers import write_event_file


def _mk_rows(hour: int, n_ok: int, n_err: int, eid0: int):
    rows = []
    eid = eid0
    for i in range(n_ok + n_err):
        eid += 1
        etype = "error" if i < n_err else "view"
        rows.append(
            (eid, f"2024-01-01 {hour:02d}:{i % 60:02d}:00", 1, etype, 1.0,
             "{}")
        )
    return rows, eid


def test_multi_batch_drain_equals_batch(spark, tmp_path_factory):
    """Two files drained one-per-trigger (two micro-batches): the
    re-summed rollup must re-frame to EXACTLY the batch burn table
    over the union — including an hour split across the two files,
    which only sums correctly because hourly partials compose."""
    root = str(tmp_path_factory.mktemp("sli"))
    base = root + "/events.parquet"
    os.makedirs(base)
    r1, eid = _mk_rows(0, 99, 1, 0)           # clean baseline hour
    r2, eid = _mk_rows(1, 40, 10, eid)        # hour 1, first half
    write_event_file(spark, base, "f1.parquet", r1 + r2)
    r3, eid = _mk_rows(1, 45, 5, eid)         # hour 1, second half
    r4, eid = _mk_rows(2, 0, 100, eid)        # full outage hour
    write_event_file(spark, base, "f2.parquet", r3 + r4)

    rollup = tempfile.mkdtemp(prefix="sli_rollup_test_")
    try:
        q = so.sli_burn_rate_stream(
            so.read_events_stream(spark, root, max_files_per_trigger=1),
            rollup,
        )
        assert q.awaitTermination(120)
        q.stop()
        # two micro-batches really happened
        batches = [d for d in os.listdir(rollup) if d.startswith("batch=")]
        assert len(batches) == 2

        got = {
            r["hour_epoch"]: r
            for r in so.sli_burn_rate_from_rollup(spark, rollup).collect()
        }
    finally:
        shutil.rmtree(rollup, ignore_errors=True)

    from iceberg_diag_spark.sources.tpch import normalize_event_ts

    ev = normalize_event_ts(spark.read.parquet(base))
    want = {r["hour_epoch"]: r for r in sli_burn_rate(ev).collect()}
    assert set(got) == set(want) and len(want) == 3
    for h in want:
        assert got[h].asDict() == want[h].asDict()
    # the split hour summed across batches: 100 events, 15 errors
    split = [r for r in want.values() if r["n_events"] == 100
             and r["n_errors"] == 15]
    assert len(split) == 1
    outage = max(want.values(), key=lambda r: r["err_ppm_1h"])
    assert outage["page_fast"] and outage["err_ppm_1h"] == 1_000_000
