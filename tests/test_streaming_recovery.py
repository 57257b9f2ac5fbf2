"""Checkpoint recovery / exactly-once incremental processing: a
stopped availableNow drain restarted against the SAME checkpoint and
sink processes only files it has not yet committed (offset log), and
the durable sink ends up with no duplicates — equal to the batch
answer over everything that ever arrived. This is the property that
makes the streaming operators restartable in production.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from iceberg_diag_spark.streaming import stream_ops as so

from helpers import write_event_file


BATCH1 = [
    (1, "2024-01-01 10:00:10", 1, "click", 1.0, "{}"),
    (2, "2024-01-01 10:30:00", 2, "view", 1.0, "{}"),
    (3, "2024-01-01 11:00:00", 1, "click", 1.0, "{}"),  # dup key of 1
]
BATCH2 = [
    (4, "2024-01-01 12:00:00", 3, "purchase", 1.0, "{}"),
    (5, "2024-01-01 12:30:00", 1, "click", 1.0, "{}"),  # dup key again
    (6, "2024-01-01 13:00:00", 2, "click", 1.0, "{}"),
]


def _drain_to_parquet(stream_df, sink: str, checkpoint: str) -> None:
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    q.stop()


def test_restart_from_checkpoint_is_exactly_once(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("rec"))
    base = root + "/events.parquet"
    sink = root + "/out"
    checkpoint = root + "/ckpt"
    os.makedirs(base)

    write_event_file(spark, base, "f1.parquet", BATCH1)
    ev = so.read_events_stream(spark, root)
    _drain_to_parquet(so.dedup_keys_stream(ev), sink, checkpoint)

    first = {
        (r.user_id, r.event_type) for r in spark.read.parquet(sink).collect()
    }
    assert first == {(1, "click"), (2, "view")}

    # new data arrives while the query is DOWN; restart with the same
    # checkpoint + sink — only the new file is processed, and keys
    # already emitted (user 1 click) are not emitted again even though
    # dedup state is also restored from the checkpoint
    write_event_file(spark, base, "f2.parquet", BATCH2)
    ev2 = so.read_events_stream(spark, root)
    _drain_to_parquet(so.dedup_keys_stream(ev2), sink, checkpoint)

    rows = [
        (r.user_id, r.event_type) for r in spark.read.parquet(sink).collect()
    ]
    assert len(rows) == len(set(rows)), "duplicate emissions after restart"
    assert set(rows) == {
        (1, "click"),
        (2, "view"),
        (3, "purchase"),
        (2, "click"),
    }

    # third restart with NO new data: a no-op batch, nothing re-emitted
    ev3 = so.read_events_stream(spark, root)
    _drain_to_parquet(so.dedup_keys_stream(ev3), sink, checkpoint)
    assert len(spark.read.parquet(sink).collect()) == len(rows)


def test_cdc_merge_state_survives_restart(spark, tmp_path_factory):
    """Keyed CDC-merge state is durable: drain batch 1 (two upserts
    for user 1), STOP the query, deliver batch 2 (one more upsert +
    a delete for user 2), and restart a NEW query from the SAME
    checkpoint. The restarted query must resume the state store —
    user 1 shows the cumulative count 3 (a stateless restart would
    show 1) and user 2's in-order delete tombstones the row."""
    root = str(tmp_path_factory.mktemp("cdc_rec"))
    base = root + "/events.parquet"
    ckpt = root + "/ckpt"
    os.makedirs(base)
    write_event_file(spark, base, "f1.parquet", [
        (1, "2024-01-01 10:00:00", 1, "view", 1.0, "{}"),
        (2, "2024-01-01 10:00:01", 1, "view", 2.0, "{}"),
        (3, "2024-01-01 10:00:02", 2, "view", 9.0, "{}"),
    ])

    sink = root + "/out"

    def start():
        # memory sinks cannot recover from a checkpoint; foreachBatch
        # + parquet is the durable update-mode pattern
        def write(batch_df, batch_id):
            batch_df.withColumn(
                "batch_id", F.lit(batch_id)
            ).write.mode("append").parquet(sink)

        return (
            so.cdc_merge_stream(so.read_events_stream(spark, root))
            .writeStream.foreachBatch(write)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )

    def latest_rows():
        df = spark.read.parquet(sink)
        w_max = df.groupBy("user_id").agg(
            F.max("batch_id").alias("batch_id")
        )
        return {
            r.user_id: r
            for r in df.join(w_max, ["user_id", "batch_id"]).collect()
        }

    q1 = start()
    assert q1.awaitTermination(120)
    q1.stop()
    got1 = latest_rows()
    assert got1[1].n_applied == 2 and got1[1].last_value == 2.0

    write_event_file(spark, base, "f2.parquet", [
        (4, "2024-01-01 10:05:00", 1, "view", 5.0, "{}"),
        (5, "2024-01-01 10:05:01", 2, "error", 0.0, "{}"),  # delete
    ])
    q2 = start()
    assert q2.awaitTermination(120)
    q2.stop()
    got2 = latest_rows()
    # only batch-2 keys re-emit; state carried the batch-1 history
    assert got2[1].n_applied == 3 and got2[1].last_value == 5.0
    assert got2[1].last_event_id == 4
    assert not got2[2].present and got2[2].n_applied == 0
    assert got2[2].disorder_seen == 0


@pytest.mark.parametrize(
    "drain",
    [
        "run_to_table",
        "run_sli_burn_rate_stream",
        "run_seasonality_profile_stream",
        "run_corpus_release_stream",
    ],
)
def test_drain_timeout_stops_query_and_removes_temp_dirs(
    spark, monkeypatch, drain
):
    """A drain that outlives STREAM_DRAIN_TIMEOUT_SECS raises
    TimeoutError, leaves no active query behind and removes every temp
    dir it created (checkpoint and rollup alike)."""
    import tempfile

    from pyspark.sql.streaming import StreamingQuery

    sf_dir = "/root/testdata/sf0.001"
    queries, dirs = [], []
    real_mkdtemp = tempfile.mkdtemp

    def recording_mkdtemp(*args, **kwargs):
        dirs.append(real_mkdtemp(*args, **kwargs))
        return dirs[-1]

    def expired(q, *args, **kwargs):
        queries.append(q)
        return False

    monkeypatch.setattr(tempfile, "mkdtemp", recording_mkdtemp)
    monkeypatch.setattr(StreamingQuery, "awaitTermination", expired)
    with pytest.raises(TimeoutError, match="did not finish"):
        if drain == "run_to_table":
            so.run_to_table(
                so.tumbling_counts(so.read_events_stream(spark, sf_dir)),
                "complete",
            )
        else:
            getattr(so, drain)(spark, sf_dir)

    assert len(queries) == 1 and not queries[0].isActive
    assert dirs and not any(os.path.exists(d) for d in dirs)
