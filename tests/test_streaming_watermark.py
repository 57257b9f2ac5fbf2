"""Watermark semantics under append mode with incremental input —
the behavior `complete`-mode drains sidestep: a window is emitted
only once the watermark (max event time − delay) passes its end, and
late rows behind the watermark are dropped from already-finalized
windows.

Batch boundaries are forced by writing files one at a time against a
LIVE stream and draining with processAllAvailable() between writes
(an initial-snapshot listing does not honor file order, so a
pre-staged directory cannot pin which rows are 'late').

Also covers the file sink: writeStream → parquet with checkpoint,
the durable-output path of the same pipeline.
"""

from __future__ import annotations

import os

import pytest

from iceberg_diag_spark.streaming import stream_ops as so

from helpers import write_event_file


F1 = [
    (1, "2024-01-01 10:00:10", 1, "click", 1.0, "{}"),
    (2, "2024-01-01 10:30:00", 1, "click", 1.0, "{}"),
]
F2 = [(3, "2024-01-01 14:00:00", 1, "click", 1.0, "{}")]  # advances watermark
F3 = [(4, "2024-01-01 10:45:00", 1, "click", 1.0, "{}")]  # late!


def test_append_mode_emits_finalized_windows_and_drops_late(
    spark, tmp_path_factory
):
    root = str(tmp_path_factory.mktemp("wm"))
    base = root + "/events.parquet"
    os.makedirs(base)
    write_event_file(spark, base, "f1.parquet", F1)  # present before start

    ev = so.read_events_stream(spark, root)
    agg = so.tumbling_counts(ev, size="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_append")
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()  # batch: f1 → watermark 08:30
        write_event_file(spark, base, "f2.parquet", F2)
        q.processAllAvailable()  # batch: f2 → watermark 12:00, W1 final
        write_event_file(spark, base, "f3.parquet", F3)
        q.processAllAvailable()  # batch: f3 → behind watermark, dropped
    finally:
        q.stop()

    rows = {r.window_start: r.event_count for r in spark.table("wm_append").collect()}
    # W1=[10:00,11:00) finalized with ONLY the on-time events; the
    # late 10:45 row neither reopened it nor appeared anywhere, and
    # the 14:00 window is still open (append mode never emitted it)
    assert rows == {"2024-01-01 10:00:00": 2}


def test_stream_parquet_sink_roundtrip(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("wm_sink"))
    base = root + "/events.parquet"
    os.makedirs(base)
    write_event_file(spark, base, "f1.parquet", F1)
    write_event_file(spark, base, "f2.parquet", F2)
    write_event_file(spark, base, "f3.parquet", F3)
    out = str(tmp_path_factory.mktemp("sink"))
    ev = so.read_events_stream(spark, root)
    q = (
        so.tumbling_counts(ev)
        .writeStream.format("parquet")
        .option("path", out + "/data")
        .option("checkpointLocation", out + "/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(out + "/data")
    assert back.columns == [
        "window_start", "event_type", "event_count", "value_cents",
    ]
    # one batch over all files: watermark only advances at batch end,
    # so all three W1 events (incl. 10:45) are on time here
    rows = {r.window_start: r.event_count for r in back.collect()}
    assert rows == {"2024-01-01 10:00:00": 3}


def test_watermark_advisor_stream_escalates_across_batches(
    spark, tmp_path_factory
):
    """Two-batch recommendation escalation: batch 1 is perfectly
    ordered (the monitor recommends the smallest candidate), batch 2
    delivers a 90 s-late row — the cumulative drop rate at the 1 s /
    10 s / 60 s candidates blows past the target and the SAME keyed
    state must re-recommend 600 s, still meeting the target."""
    root = str(tmp_path_factory.mktemp("wm_rec"))
    base = root + "/events.parquet"
    os.makedirs(base)
    f1 = [
        (i, f"2024-01-01 10:00:{10 + i:02d}", 1, "click", 1.0, "{}")
        for i in range(1, 11)
    ]
    write_event_file(spark, base, "f1.parquet", f1)

    ev = so.read_events_stream(spark, root)
    mon = so.watermark_advisor_stream(ev, target_ppm=1_000)
    q = (
        mon.writeStream.format("memory")
        .queryName("wm_rec")
        .outputMode("update")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        f2 = [
            (11, "2024-01-01 10:10:00", 1, "click", 1.0, "{}"),
            (12, "2024-01-01 10:08:30", 1, "click", 1.0, "{}"),  # 90 s late
        ]
        write_event_file(spark, base, "f2.parquet", f2)
        q.processAllAvailable()
    finally:
        q.stop()

    rows = sorted(
        spark.table("wm_rec").collect(), key=lambda r: r.n_events
    )
    assert [r.n_events for r in rows] == [10, 12]
    first, second = rows
    # ordered batch: smallest candidate, clean
    assert first.recommended_watermark_us == 1_000_000
    assert first.meets_target and first.n_dropped == 0
    # after the late row: 1/12 would drop at every candidate below
    # 600 s (83,333 ppm >> 1,000) — recommendation escalates
    assert second.recommended_watermark_us == 600_000_000
    assert second.meets_target and second.n_dropped == 0
    assert second.drop_ppm == 0


def test_expectations_gate_stream_accumulates_across_batches(
    spark, tmp_path_factory
):
    """Two-batch contract monitoring: batch 1 is clean (every rule at
    zero violations), batch 2 delivers one value-range violator — the
    complete-mode state must show cumulative counts over BOTH batches
    and the first-offender handle must point at the new row."""
    root = str(tmp_path_factory.mktemp("exp_gate"))
    base = root + "/events.parquet"
    os.makedirs(base)
    f1 = [
        (i, f"2024-01-01 10:00:{10 + i:02d}", 1, "click", 5.0, '{"k": 5}')
        for i in range(1, 11)
    ]
    write_event_file(spark, base, "f1.parquet", f1)

    ev = so.read_events_stream(spark, root)
    gate = so.expectations_gate_stream(ev)
    q = (
        gate.writeStream.format("memory")
        .queryName("exp_gate")
        .outputMode("complete")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        clean = {
            r.rule_id: r for r in spark.table("exp_gate").collect()
        }
        assert len(clean) == 6
        assert all(r.n_checked == 10 for r in clean.values())
        assert all(r.n_violations == 0 for r in clean.values())
        assert all(
            r.first_bad_event_id is None for r in clean.values()
        )
        f2 = [
            (11, "2024-01-01 10:10:00", 1, "click", 5.0, '{"k": 5}'),
            (12, "2024-01-01 10:10:01", 1, "click", 500.0, '{"k": 5}'),
        ]
        write_event_file(spark, base, "f2.parquet", f2)
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r.rule_id: r for r in spark.table("exp_gate").collect()}
    assert all(r.n_checked == 12 for r in got.values())
    assert got["value_range"].n_violations == 1
    assert got["value_range"].first_bad_event_id == 12
    assert got["value_range"].violation_ppm == 83_333
    assert got["_quarantine"].n_violations == 1
    assert got["props_k_range"].n_violations == 0


def test_cdc_merge_stream_tombstone_and_disorder(spark, tmp_path_factory):
    """Two-batch MERGE mirror: batch 1 applies two upserts per user;
    batch 2 sends user 1 an IN-ORDER delete (exact reset, then one
    re-insert survives) and user 2 a DISORDERED delete (event_id
    behind the frontier — tombstones nothing already applied, but
    disorder_seen must say so)."""
    root = str(tmp_path_factory.mktemp("cdc_merge"))
    base = root + "/events.parquet"
    os.makedirs(base)
    f1 = [
        (10, "2024-01-01 10:00:10", 1, "view", 1.5, "{}"),
        (11, "2024-01-01 10:00:11", 1, "view", 2.5, "{}"),
        (20, "2024-01-01 10:00:12", 2, "view", 7.0, "{}"),
        (21, "2024-01-01 10:00:13", 2, "view", 8.0, "{}"),
    ]
    write_event_file(spark, base, "f1.parquet", f1)
    ev = so.read_events_stream(spark, root)
    q = (
        so.cdc_merge_stream(ev)
        .writeStream.format("memory")
        .queryName("cdc_merge")
        .outputMode("update")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        first = {
            r.user_id: r for r in spark.table("cdc_merge").collect()
        }
        assert first[1].n_applied == 2 and first[1].last_value == 2.5
        assert first[2].n_applied == 2 and first[2].disorder_seen == 0
        f2 = [
            (30, "2024-01-01 10:01:00", 1, "error", 0.0, "{}"),  # delete
            (31, "2024-01-01 10:01:01", 1, "view", 9.0, "{}"),   # re-insert
            (15, "2024-01-01 10:01:02", 2, "error", 0.0, "{}"),  # behind 21!
        ]
        write_event_file(spark, base, "f2.parquet", f2)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table("cdc_merge").collect()
    # update mode: take the LAST emission per user
    got = {}
    for r in rows:
        got[r.user_id] = r
    u1, u2 = got[1], got[2]
    assert u1.n_applied == 1 and u1.last_event_id == 31
    assert u1.last_value == 9.0 and u1.present and u1.disorder_seen == 0
    # disordered delete: frontier rule keeps both applied rows, but
    # the degradation is explicit
    assert u2.n_applied == 2 and u2.last_event_id == 21
    assert u2.disorder_seen == 1
