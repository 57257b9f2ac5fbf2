"""Structured Streaming operators: batch-equivalence over a finite
source, plus state semantics under multi-batch incremental processing.

Strategy: drain each stream with trigger(availableNow=True) into a
memory sink, then compare against the equivalent batch DataFrame
query over the same parquet — exact row-set equality. The registry's
DuckDB oracles re-check the same equivalences cross-engine.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from iceberg_diag_spark.operators import events as batch_events
from iceberg_diag_spark.sources.tpch import load_table
from iceberg_diag_spark.streaming import stream_ops as so

SF_DIR = "/root/testdata/sf0.001"


def rowset(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def events_batch(spark):
    return load_table(spark, SF_DIR, "events")


def test_tumbling_equals_batch(spark, events_batch):
    got = so.run_to_table(
        so.tumbling_counts(so.read_events_stream(spark, SF_DIR)),
        "complete",
        "t_tumb",
    )
    want = (
        events_batch.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
        )
        .agg(
            F.count("*").alias("event_count"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
    )
    assert rowset(got) == rowset(want)


def test_sliding_counts_total(spark, events_batch):
    got = so.run_to_table(
        so.sliding_counts(so.read_events_stream(spark, SF_DIR)),
        "complete",
        "t_slide",
    )
    # each event lands in exactly size/slide = 2 windows
    total = got.agg(F.sum("event_count")).collect()[0][0]
    assert total == 2 * events_batch.count()
    # window bounds are size (1h) apart
    bad = got.filter(
        F.unix_timestamp("window_end") - F.unix_timestamp("window_start") != 3600
    ).count()
    assert bad == 0


def test_session_windows_equal_batch_sessionize(spark, events_batch):
    got = so.run_to_table(
        so.session_windows(so.read_events_stream(spark, SF_DIR)),
        "complete",
        "t_sess",
    )
    want = batch_events.sessionize(events_batch).select(
        "user_id",
        "session_start",
        F.col("session_end").alias("session_last_ts"),
        "event_count",
    )
    assert rowset(got.select("user_id", "session_start", "session_last_ts", "event_count")) == rowset(want)


def test_dedup_keys_equals_distinct(spark, events_batch):
    got = so.run_to_table(
        so.dedup_keys_stream(so.read_events_stream(spark, SF_DIR)),
        "append",
        "t_dedup",
    )
    want = events_batch.select("user_id", "event_type").distinct()
    assert rowset(got) == rowset(want)


def test_user_running_stats_final_state(spark, events_batch):
    got = so.run_to_table(
        so.user_running_stats(so.read_events_stream(spark, SF_DIR)),
        "update",
        "t_urs",
    )
    want = events_batch.groupBy("user_id").agg(
        F.count("*").alias("event_count"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    )
    assert rowset(got) == rowset(want.select("user_id", "event_count", "value_cents", "last_ts"))


def test_stateful_incremental_batches(spark, tmp_path_factory, events_batch):
    """Split events into 3 parquet files and stream them one file per
    trigger: the stateful operator must carry state across
    micro-batches, and its LAST emitted row per user must equal the
    global batch rollup."""
    src = str(tmp_path_factory.mktemp("ev_parts"))
    (
        events_batch.withColumn("ts", F.unix_micros("ts") * 1000)  # back to ns longs
        .repartition(3)
        .write.mode("overwrite")
        .parquet(os.path.join(src, "events.parquet"))
    )
    try:
        ev = so.read_events_stream(spark, src, max_files_per_trigger=1)
        out = so.run_to_table(so.user_running_stats(ev), "update", "t_urs_inc")
        rows = out.collect()
        # multiple updates per user across batches; final value = max count
        final = {}
        for r in rows:
            cur = final.get(r.user_id)
            if cur is None or r.event_count > cur.event_count:
                final[r.user_id] = r
        want = {
            r.user_id: r
            for r in events_batch.groupBy("user_id")
            .agg(
                F.count("*").alias("event_count"),
                F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
                F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            )
            .collect()
        }
        assert set(final) == set(want)
        for uid, row in final.items():
            assert (row.event_count, row.value_cents, row.last_ts) == (
                want[uid].event_count,
                want[uid].value_cents,
                want[uid].last_ts,
            ), uid
        # state really accumulated across >1 batch for some user
        assert len(rows) > len(final)
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_stream_stream_join_equals_batch_range_join(spark, events_batch):
    from iceberg_diag_spark.operators import joins

    got = so.run_to_table(
        so.stream_click_purchase_join(so.read_events_stream(spark, SF_DIR)),
        "append",
        "t_ssjoin",
    )
    purchases = events_batch.filter(F.col("event_type") == "purchase")
    clicks = events_batch.filter(F.col("event_type") == "click")
    want = joins.range_join_before(
        purchases, clicks, on="user_id", before_seconds=1800,
        left_cols=("event_id",), right_cols=("event_id",),
    ).select(
        "user_id",
        F.col("l_event_id").alias("purchase_id"),
        F.col("r_event_id").alias("click_id"),
        "gap_seconds",
    )
    assert rowset(got) == rowset(want)


def test_disorder_monitor_state_across_batches(spark, tmp_path_factory, events_batch):
    """disorder_monitor must carry per-type frontier state across
    micro-batches: the final emitted row per type accounts for every
    event seen in any batch (lateness itself is arrival-order-
    dependent, so only the count is batch-order-invariant here; the
    single-batch value semantics are pinned by the oracle parity
    test)."""
    src = str(tmp_path_factory.mktemp("ev_parts_dm"))
    (
        events_batch.withColumn("ts", F.unix_micros("ts") * 1000)
        .repartition(3)
        .write.mode("overwrite")
        .parquet(os.path.join(src, "events.parquet"))
    )
    ev = so.read_events_stream(spark, src, max_files_per_trigger=1)
    out = so.run_to_table(so.disorder_monitor(ev), "update", "t_dm_inc")
    rows = out.collect()
    final = {}
    for r in rows:
        cur = final.get(r.event_type)
        if cur is None or r.n_events > cur.n_events:
            final[r.event_type] = r
    want = {
        r.event_type: r.n
        for r in events_batch.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {t: r.n_events for t, r in final.items()} == want
    assert len(rows) > len(final)  # state really spanned >1 batch


def test_stream_export_shards_matches_batch_membership(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from iceberg_diag_spark.sources.sinks import export_training_shards
    from iceberg_diag_spark.sources.tpch import load_table
    from iceberg_diag_spark.streaming.stream_ops import (
        STREAM_DRAIN_TIMEOUT_SECS,
        read_documents_stream,
        stream_export_shards,
    )

    sf_dir = "/root/testdata/sf0.001"
    base = tmp_path_factory.mktemp("stream_shards")
    stream_out, batch_out = str(base / "stream"), str(base / "batch")

    q = stream_export_shards(
        read_documents_stream(spark, sf_dir), stream_out, n_shards=8
    )
    assert q.awaitTermination(STREAM_DRAIN_TIMEOUT_SECS)

    docs = load_table(spark, sf_dir, "documents")
    export_training_shards(docs, batch_out, n_shards=8)

    def members(path):
        return {
            r["shard"]: sorted(r["ids"])
            for r in spark.read.parquet(path)
            .groupBy("shard")
            .agg(F.collect_list("doc_id").alias("ids"))
            .collect()
        }

    got = spark.read.parquet(stream_out)
    assert got.count() == docs.count()
    # shard membership is a pure function of doc_id: the streaming
    # export agrees with the batch export shard-for-shard
    assert members(stream_out) == members(batch_out)


def test_scd2_stream_equals_batch_closed_intervals(spark, events_batch):
    """Single availableNow drain: the streaming SCD2 feed emits
    exactly the batch scd2_build rows whose valid_to_us is non-NULL
    (closed intervals; the open run per user stays in state)."""
    got = so.run_to_table(
        so.scd2_stream(so.read_events_stream(spark, SF_DIR)),
        "append",
        "t_scd2",
    )
    # a single drain can never be cross-batch-late
    assert rowset(got.filter(F.col("disorder_seen") != 0)) == []
    want = (
        batch_events.scd2_build(events_batch)
        .filter(F.col("valid_to_us").isNotNull())
        .select(
            "user_id", "state", "valid_from_us", "valid_to_us",
            "version_seq",
        )
    )
    assert rowset(got.drop("disorder_seen")) == rowset(want)


def test_scd2_stream_state_carries_across_batches(
    spark, tmp_path_factory, events_batch
):
    """Split events at the median timestamp into two sequentially
    written file groups and stream one file per trigger: per-user
    arrival order across batches follows event time, so cross-batch
    runs must collapse exactly as in batch — including runs OPEN at
    the first batch's end that close in the second."""
    med = events_batch.agg(
        F.expr("percentile_approx(unix_micros(ts), 0.5)")
    ).collect()[0][0]
    src = str(tmp_path_factory.mktemp("ev_scd2"))
    dst = os.path.join(src, "events.parquet")
    as_ns = events_batch.withColumn("ts", F.unix_micros("ts") * 1000)
    try:
        (
            as_ns.filter(F.col("ts") / 1000 <= med)
            .coalesce(1).write.mode("append").parquet(dst)
        )
        (
            as_ns.filter(F.col("ts") / 1000 > med)
            .coalesce(1).write.mode("append").parquet(dst)
        )
        ev = so.read_events_stream(spark, src, max_files_per_trigger=1)
        got = so.run_to_table(so.scd2_stream(ev), "append", "t_scd2_mb")
        # in-order batches: the disorder frontier never fires
        assert rowset(got.filter(F.col("disorder_seen") != 0)) == []
        got = got.drop("disorder_seen")
        want = (
            batch_events.scd2_build(events_batch)
            .filter(F.col("valid_to_us").isNotNull())
            .select(
                "user_id", "state", "valid_from_us", "valid_to_us",
                "version_seq",
            )
        )
        assert rowset(got) == rowset(want)
        # the boundary is real: some closed interval spans the split
        spanning = [
            r for r in got.collect()
            if r.valid_from_us <= med * 1 and r.valid_to_us > med
        ]
        assert spanning, "median split produced no boundary-spanning run"
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_scd2_stream_counts_cross_batch_disorder(spark, tmp_path_factory):
    """A second batch delivering a row BEHIND a user's event-time
    frontier must not corrupt the run-collapse: the late row is
    skipped (its run boundary was already emitted) and surfaced in
    disorder_seen on every subsequent emission for that user."""
    import time

    src = str(tmp_path_factory.mktemp("ev_scd2_dis"))
    dst = os.path.join(src, "events.parquet")
    cols = (
        "event_id long, ts long, user_id long, event_type string,"
        " value double, props string"
    )

    def ns(sec):  # ts written as int64 nanos, the legacy-conf shape
        return sec * 1_000_000_000

    b1 = [(1, ns(10), 7, "A", 0.0, "{}"), (2, ns(20), 7, "B", 0.0, "{}")]
    b2 = [
        (3, ns(15), 7, "C", 0.0, "{}"),  # behind the 20 s frontier
        (4, ns(30), 7, "D", 0.0, "{}"),  # closes B at 30 s
    ]
    try:
        spark.createDataFrame(b1, cols).coalesce(1).write.mode(
            "append"
        ).parquet(dst)
        time.sleep(0.1)  # distinct mtimes → deterministic file order
        spark.createDataFrame(b2, cols).coalesce(1).write.mode(
            "append"
        ).parquet(dst)
        ev = so.read_events_stream(spark, src, max_files_per_trigger=1)
        got = so.run_to_table(so.scd2_stream(ev), "append", "t_scd2_dis")
        rows = sorted(tuple(r) for r in got.collect())
        assert rows == [
            (7, "A", 10_000_000, 20_000_000, 1, 0),
            (7, "B", 20_000_000, 30_000_000, 2, 1),
        ]
    finally:
        shutil.rmtree(src, ignore_errors=True)


def _plumbing_sites(pkg=None) -> dict[str, set[str]]:
    """Top-level function (as `module:function`, or `module:<module>`
    for module-level code) of every place that writes a piece of
    stream plumbing out: under streaming/, the keyed-state call, the
    file-stream read, the stream write and a ``batch=`` path; under
    the whole package, the release write (write_assigned_shards in
    the ("source", "seq_id", "doc_id") release order, written out or
    as funnel's ``_RELEASE_ORDER``)."""
    import ast
    import pathlib

    import iceberg_diag_spark

    pkg = pkg or pathlib.Path(iceberg_diag_spark.__file__).parent
    release_order = ("source", "seq_id", "doc_id")
    sites: dict[str, set[str]] = {
        "keyed_state": set(), "read_stream": set(), "write_stream": set(),
        "batch_dir": set(), "release_write": set(),
    }

    def ident(n):
        return getattr(n, "attr", None) or getattr(n, "id", None) or (
            n.name if isinstance(n, ast.alias) else None
        )

    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        streaming = path.parent.name == "streaming"
        docstrings = {
            id(s.value) for s in ast.walk(tree) if isinstance(s, ast.Expr)
        }
        for top in tree.body:
            where = f"{path.stem}:{getattr(top, 'name', '<module>')}"
            for n in ast.walk(top):
                name = ident(n)
                if streaming and name in (
                    "applyInPandasWithState", "GroupStateTimeout"
                ):
                    sites["keyed_state"].add(where)
                if streaming and name == "readStream":
                    sites["read_stream"].add(where)
                if streaming and name == "writeStream":
                    sites["write_stream"].add(where)
                if (
                    streaming
                    and isinstance(n, ast.Constant)
                    and isinstance(n.value, str)
                    and "batch=" in n.value
                    and id(n) not in docstrings
                ):
                    sites["batch_dir"].add(where)
                if isinstance(n, ast.Call) and ident(n.func) == (
                    "write_assigned_shards"
                ):
                    for a in [*n.args, *(k.value for k in n.keywords)]:
                        if (
                            isinstance(a, ast.Tuple) and tuple(
                                getattr(e, "value", None) for e in a.elts
                            ) == release_order
                        ) or ident(a) == "_RELEASE_ORDER":
                            sites["release_write"].add(where)
    return sites


def test_stream_plumbing_written_once():
    """Each piece of stream plumbing is written in one helper: the
    file-stream reader, the keyed-state call (state read and write,
    timeout), the batch=<id> sink start, and the memory-sink drain;
    and the release is written by funnel's one writer."""
    assert _plumbing_sites() == {
        "keyed_state": {"stream_ops:_keyed_state"},
        "read_stream": {"stream_ops:_read_stream"},
        "write_stream": {
            "stream_ops:_start_batch_dirs", "stream_ops:run_to_table"
        },
        "batch_dir": {"stream_ops:_start_batch_dirs"},
        "release_write": {"funnel:_write_release"},
    }
