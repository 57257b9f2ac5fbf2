"""Structured Streaming operators over the `events` table.

The reference is batch-only (SURVEY.md §2 "Streaming — none"); this
module is the north-star extension surface: watermarked tumbling /
sliding / session windows, streaming exact dedup, five keyed-state
operators and the accumulated-rollup and incremental-release twins.

Execution contract: every operator is a pure stream-DataFrame
transform (readStream in → unbounded DataFrame out), so the SAME
transform runs against a real Kafka/file stream in production and
against a finite parquet directory in tests. The plumbing is written
once each:
- `_read_stream` is the one file-source reader (schema probe, then a
  directory or exact-glob layout); `read_events_stream`,
  `read_documents_stream` and `read_embeddings_stream` call it.
- `_keyed_state` is the one applyInPandasWithState call: each keyed
  operator passes only a pure ``fold(key, state, batch) -> (state,
  rows)`` plus its schemas, initial state, sort order and output mode.
  The state read, the state write and the timeout live there.
- `_start_batch_dirs` starts every foreachBatch sink that writes one
  idempotent ``batch=<id>`` directory per micro-batch.
- `_drain` makes the temp dirs, starts an availableNow query, waits
  for it (bounded) and removes the query and the dirs on every exit.
  `run_to_table` drains into a memory sink and returns the
  materialized result, which lets oracle parity hash-compare streaming
  results against batch DuckDB oracles; the `run_*` helpers drain a
  batch-directory sink and read it back.

Scale posture (100 TB/day stream): all windowed aggregations keep
state keyed by (window, group) — bounded by watermark eviction, not
by stream length; dedup state is bounded by
dropDuplicatesWithinWatermark. Shuffle is one exchange per agg on the
group key. At production rates the same code runs with a Kafka source
and checkpointLocation on durable storage.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import shutil
import tempfile
from collections.abc import Callable, Iterator

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from iceberg_diag_spark.functions.parallel import materialize
from iceberg_diag_spark.operators.events import WATERMARK_CANDIDATES_US
from iceberg_diag_spark.sources.tpch import normalize_event_ts

# Dedup keys and event-time settings of the operators below.
KEYS = ("user_id", "event_type")
SESSION_GAP = "30 minutes"
WATERMARK = "2 hours"
_QUERY_SEQ = itertools.count()

# Finite-drain guard: availableNow over the test parquet finishes in
# seconds; if the engine ever wedges (state-store/sink trouble in a
# foreign harness), fail loudly instead of hanging the caller forever.
STREAM_DRAIN_TIMEOUT_SECS = 300


@contextlib.contextmanager
def _drain(
    label: str, start: Callable[..., StreamingQuery], *dir_prefixes: str
) -> Iterator[list[str]]:
    """Make one temp dir per prefix, start an availableNow query with
    ``start(*dirs)``, wait for it to finish, then run the body with
    the dirs.

    Raises TimeoutError if the drain outlives
    STREAM_DRAIN_TIMEOUT_SECS. The query is stopped before the body
    runs, and stopped again and every dir removed on every exit, so
    a timeout, a failed start or a failing post-drain read leaks
    neither a running query nor temp dirs.
    """
    dirs = [tempfile.mkdtemp(prefix=p) for p in dir_prefixes]
    q = None
    try:
        q = start(*dirs)
        if not q.awaitTermination(STREAM_DRAIN_TIMEOUT_SECS):
            raise TimeoutError(
                f"streaming drain {label!r} did not finish within "
                f"{STREAM_DRAIN_TIMEOUT_SECS}s"
            )
        q.stop()
        yield dirs
    finally:
        if q is not None:
            q.stop()
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


def _start_batch_dirs(
    stream_df: DataFrame,
    path: str,
    write_dir: Callable[[DataFrame, str], None],
    checkpoint_dir: str | None,
    checkpoint_prefix: str,
) -> StreamingQuery:
    """Start an availableNow drain of ``stream_df`` that hands
    micro-batch <id> to ``write_dir(batch_df, "<path>/batch=<id>")``,
    checkpointing to ``checkpoint_dir`` (a fresh temp dir named
    ``checkpoint_prefix*`` when None).

    Every ``write_dir`` overwrites its directory, so a replayed batch
    (failure → restart from checkpoint) overwrites itself instead of
    appending duplicates: the sink is idempotent per batch —
    effectively exactly-once without a transactional table format.
    Readers see ``batch=N`` partition discovery over the whole path."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_dir(batch_df, f"{path}/batch={int(batch_id)}")

    checkpoint = checkpoint_dir or tempfile.mkdtemp(prefix=checkpoint_prefix)
    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _read_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over ``<sf_dir>/<table>.parquet``. Schema is
    taken from a batch probe (streams require an explicit schema); a
    production deployment would pass the Kafka/Iceberg source instead.

    The file stream source requires a directory. testdata ships each
    table as a single file → stream sf_dir with an exact glob; a
    directory-of-part-files layout streams directly."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        stream_dir, glob = path, "*.parquet"
    else:
        stream_dir, glob = sf_dir, f"{table}.parquet"
    reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(stream_dir)


def _keyed_state(
    stream: DataFrame,
    key: str,
    fold: Callable,
    out_schema: str,
    state_schema: str,
    init: tuple,
    sort_cols: tuple[str, ...],
    output_mode: str,
) -> DataFrame:
    """Per-``key`` state carried across micro-batches: the one
    applyInPandasWithState call. Each micro-batch, every key's rows
    arrive as ONE pandas batch sorted by ``sort_cols``, and
    ``fold(key_value, state, batch)`` returns the new state tuple and
    the output rows (tuples in ``out_schema`` order). ``state`` is
    ``init`` until the key's first update. numpy scalars in the new
    state are stored as Python values.

    No timeout: a key's state lives as long as the query, bounded by
    the key cardinality (SCALING.md §9); eviction would be set here."""
    import pandas as pd  # local import: worker-side dependency
    from pyspark.sql.streaming.state import GroupStateTimeout

    cols = [f.split()[0] for f in out_schema.split(",")]

    def update(k, pdfs, state):
        batch = pd.concat(list(pdfs), ignore_index=True)
        if sort_cols:
            batch = batch.sort_values(list(sort_cols))
        new, rows = fold(k[0], state.get if state.exists else init, batch)
        state.update(
            tuple(v.item() if isinstance(v, np.generic) else v for v in new)
        )
        yield pd.DataFrame.from_records(rows, columns=cols)

    return stream.groupBy(key).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode=output_mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _lateness_us(frontier: int, batch) -> tuple[np.ndarray, int]:
    """Lateness (µs) of each row of ``batch``, in fold order, behind
    the running event-time frontier that starts at ``frontier``
    (vectorized running max, no Python row loop), and the frontier
    after the batch."""
    ts_us = (batch["ts"].astype("int64") // 1000).to_numpy()
    prev = np.concatenate(([frontier], np.maximum.accumulate(ts_us)[:-1]))
    late = np.maximum(0, np.maximum(prev, frontier) - ts_us)
    return late, max(frontier, int(ts_us.max()))


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over the events parquet directory
    (`_read_stream`).

    events.ts is normalized to TimestampType the same way as the
    batch loader (sources/tpch.py:normalize_event_ts) — the physical
    type has varied across testdata generations (TIMESTAMP(NANOS) →
    long via legacy conf, TIMESTAMP(MICROS) → timestamp_ntz, or
    already timestamp).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_event_ts(
        _read_stream(spark, sf_dir, "events", max_files_per_trigger)
    )


def tumbling_counts(
    events: DataFrame, size: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window rollup per event type: count,
    value-cents sum. State per (window, type) row is evicted once the
    watermark passes window end."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("event_count"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "event_count",
            "value_cents",
        )
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """Sliding-window event counts: each event lands in two (1 hour /
    30 minutes) overlapping windows. State cost is 2× tumbling — the
    standard trade for smoother trend curves."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"),
            F.col("event_type"),
        )
        .agg(F.count("*").alias("event_count"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
            "event_type",
            "event_count",
        )
    )


def session_windows(events: DataFrame) -> DataFrame:
    """Native session windows per user: events closer than SESSION_GAP
    merge into one session (Spark's session_window end = last event +
    gap, so last_ts is recovered by subtracting the gap). Equivalent to the
    batch gap-sessionization in operators/events.py — the test suite
    and oracle pin that equivalence."""
    gap_expr = F.expr(f"INTERVAL {SESSION_GAP}")
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(
            F.session_window("ts", SESSION_GAP).alias("w"), F.col("user_id")
        )
        .agg(F.count("*").alias("event_count"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(
                F.col("w.end").cast("timestamp") - gap_expr, "yyyy-MM-dd HH:mm:ss"
            ).alias("session_last_ts"),
            "event_count",
        )
    )


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet — the
    ingestion-side view of the corpus (a production deployment points
    this at the crawl landing directory / Kafka topic); `_read_stream`
    probes the schema and handles the single-file layout."""
    return _read_stream(spark, sf_dir, "documents")


def incremental_exact_dedup_stream(
    batch_stream: DataFrame,
    corpus: DataFrame,
) -> DataFrame:
    """Streaming ingestion exact-dedup gate: every arriving document
    is tagged 'exact' if its normalized content hash already exists
    in the static corpus relation, else 'novel' — the streaming form
    of incremental_dedup_status's hash tier (the LSH tier needs
    partition windows, which streams don't support; near-dup stays a
    micro-batch job downstream).

    Shape: stream-static LEFT OUTER join against the distinct corpus
    hash relation — stateless on the stream side (no watermark
    needed), so state never grows with stream length; the corpus side
    is a static relation Spark re-plans per micro-batch (broadcast
    when small, shuffled hash join when not)."""
    from iceberg_diag_spark.operators.dedup import normalized_text

    ch = F.sha2(normalized_text(F.col("text")), 256)
    corpus_hashes = (
        corpus.select(ch.alias("__ch"))
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    return (
        batch_stream.select(F.col("doc_id"), ch.alias("__ch"))
        .join(corpus_hashes, "__ch", "left")
        .select(
            F.col("doc_id"),
            F.when(F.col("__hit"), F.lit("exact"))
            .otherwise(F.lit("novel"))
            .alias("status"),
        )
    )


def quality_gate_stream(docs_stream: DataFrame) -> DataFrame:
    """Streaming ingest-side curation monitor: running per-source
    totals and pass counts for the corpus quality gates (TTR ≥ 0.4,
    alpha ≥ 0.6, language identified) — the live dashboard relation
    behind "is today's crawl worse than yesterday's". The gate exprs
    are the SAME column expressions the batch pipeline uses
    (textops.quality_exprs / language_best), so stream and batch can
    never disagree about what "pass" means.

    State: one row per source (bounded by #domains, not stream
    length) — complete-mode aggregation without a watermark is safe
    at any rate. Output: (source, n_docs, n_pass)."""
    from iceberg_diag_spark.operators import textops

    q = textops.quality_exprs()
    best = textops.language_best()
    passes = (
        (q["type_token_ratio"] >= 0.4)
        & (q["alpha_ratio"] >= 0.6)
        & (best["hits"] > 0)
    )
    flags = docs_stream.select(
        "source", passes.cast("int").alias("__p")
    )
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__p").cast("long").alias("n_pass"),
    )


def dedup_keys_stream(events: DataFrame) -> DataFrame:
    """Streaming exact dedup projected to the key columns: emit each
    distinct key combination once. Projecting BEFORE dedup makes the
    result order-independent (a set), so it is oracle-checkable;
    dropDuplicatesWithinWatermark bounds state by the watermark
    horizon instead of retaining every key forever."""
    return (
        events.withWatermark("ts", WATERMARK)
        .select(*KEYS, "ts")
        .dropDuplicatesWithinWatermark(list(KEYS))
        .select(*KEYS)
    )


def user_running_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running aggregate maintained across micro-batches — event count,
    value-cents sum, and max timestamp seen. Emits one updated row per
    user per batch; state is a single tuple per user (bounded by the
    user cardinality, the canonical keyed-state shape).

    The reference has no stateful streaming; this models the
    "pluggable per-row callback" role its metric_function params play
    (SURVEY.md §2 UDF surface) in streaming form.
    """
    import pandas as pd  # local import: worker-side dependency

    def fold(user_id, state, batch):
        count, cents, max_ns = state
        count += len(batch)
        cents += int(np.floor(batch["value"] * 100).astype("int64").sum())
        max_ns = max(max_ns, int(batch["ts"].astype("int64").max()))
        last_ts = pd.Timestamp(max_ns, unit="ns").strftime("%Y-%m-%d %H:%M:%S")
        return (count, cents, max_ns), [(user_id, count, cents, last_ts)]

    return _keyed_state(
        events.withWatermark("ts", WATERMARK),
        "user_id",
        fold,
        "user_id long, event_count long, value_cents long, last_ts string",
        "count long, cents long, max_ns long",
        (0, 0, 0),
        (),
        "update",
    )


def stream_click_purchase_join(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: each purchase joins the clicks of
    the same user within the preceding 30 minutes — the streaming
    analog of operators/joins.range_join_before.

    Both sides carry watermarks and the join condition bounds event
    time on both sides, so Spark can size the join state: a click is
    held only until the watermark guarantees no future purchase can
    reach back to it. Output equals the batch range join over the
    same finite input (pinned by the DuckDB oracle).
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", WATERMARK)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", WATERMARK)
    )
    cond = (
        (purchases.user_id == clicks.c_user_id)
        & (clicks.click_ts <= purchases.purchase_ts)
        & (
            clicks.click_ts
            >= purchases.purchase_ts - F.expr("INTERVAL 30 MINUTES")
        )
    )
    return purchases.join(clicks, cond, "inner").select(
        "user_id",
        "purchase_id",
        "click_id",
        F.expr(
            "(unix_micros(purchase_ts) - unix_micros(click_ts)) div 1000000"
        ).alias("gap_seconds"),
    )


def distinct_users_per_window(
    events: DataFrame, size: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Distinct users per tumbling window — streaming forbids
    COUNT(DISTINCT), so this is the canonical two-stateful-operator
    workaround (Spark 3.5+ chained stateful ops): watermarked dedup
    on (window, user) feeds a windowed count. The window struct is
    the sole event-time column after the projection (keeping the raw
    ts too would be ambiguous — 'more than one event time column');
    dedup state and agg state are both watermark-evicted.
    """
    deduped = (
        events.withWatermark("ts", watermark)
        .select(F.window("ts", size).alias("w"), "user_id")
        .dropDuplicatesWithinWatermark(["w", "user_id"])
    )
    return (
        deduped.groupBy("w")
        .agg(F.count("*").alias("distinct_users"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "distinct_users",
        )
    )


def stream_static_enriched_counts(
    events: DataFrame,
    dim: DataFrame,
) -> DataFrame:
    """Stream-static join + windowed rollup: each micro-batch joins
    the static dimension (broadcast — STATELESS, unlike stream-stream
    joins: the static side needs no watermark or join state), then
    aggregates per (window, nation). The canonical enrichment shape
    for a 100 TB/day stream against slowly-changing dims.

    `dim` carries (c_custkey, c_nationkey); events join on user_id.
    """
    enriched = events.withWatermark("ts", WATERMARK).join(
        F.broadcast(dim), F.col("user_id") == F.col("c_custkey")
    )
    return (
        enriched.groupBy(
            F.window("ts", "1 hour").alias("w"),
            F.col("c_nationkey").cast("int").alias("nationkey"),
        )
        .agg(
            F.count("*").alias("event_count"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "nationkey",
            "event_count",
            "value_cents",
        )
    )


def run_to_table(
    stream_df: DataFrame,
    output_mode: str,
    name_prefix: str = "stream_result",
) -> DataFrame:
    """Drain a finite stream with trigger(availableNow=True) into a
    memory sink; return the materialized result. Complete mode for
    windowed aggs (emits final windows regardless of watermark),
    append for dedup.

    Hardened for harness reuse: explicit per-run checkpoint dir (no
    dependence on any session-level checkpoint conf), bounded
    awaitTermination (raises instead of hanging), and the result is
    re-materialized as a plain local-relation DataFrame so nothing
    downstream touches streaming state — the memory-sink view,
    checkpoint dir, and query handle are all released before return.
    Result sets here are drained test streams (≤ tens of thousands of
    rows); a production deployment writes a parquet/Iceberg sink
    instead of materializing (see tests/test_streaming.py's file-sink
    coverage).
    """
    spark = stream_df.sparkSession
    name = f"{name_prefix}_{os.getpid()}_{next(_QUERY_SEQ)}"

    def start(checkpoint: str) -> StreamingQuery:
        return (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    with _drain(name, start, f"ckpt_{name}_"):
        sink = spark.table(name)
        rows, schema = sink.collect(), sink.schema
        spark.catalog.dropTempView(name)
    return spark.createDataFrame(rows, schema)


def read_embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the embeddings parquet — the
    ingestion-side view of an embedding drop (production points this
    at the encoder's output topic), read by `_read_stream`."""
    return _read_stream(spark, sf_dir, "embeddings")


def centroid_confusion_stream(
    emb_stream: DataFrame,
    static_emb: DataFrame,
) -> DataFrame:
    """Streaming nearest-centroid confusion monitor: every arriving
    vector is assigned to its nearest centroid (centroids from the
    STATIC reference table — label means, the same construction as
    the batch nearest_centroid_confusion), and the (label, predicted)
    confusion counts update live — the drift dashboard behind "does
    today's embedding drop still land in yesterday's clusters".

    Statelessness is the design point: the static side collapses to a
    ONE-ROW relation holding the full sorted centroid array, the
    stream cross-joins that single row (stream-static, re-planned per
    micro-batch), and the argmin runs ROW-LOCAL as an array fold over
    the #labels candidates — no per-vector aggregation state at all.
    The only streaming state is the final (label, predicted) count
    table, bounded by #labels² regardless of stream length. Distances
    are floor-quantized to micro-units before comparison (the batch
    d2q convention) so the assignment is reproducible.
    """
    ex = static_emb.select(
        F.col("label").alias("cand"),
        F.posexplode(F.col("embedding")).alias("pos", "val"),
    ).withColumn("val", F.col("val").cast("double"))
    cent = ex.groupBy("cand", "pos").agg(F.avg("val").alias("c"))
    carr = cent.groupBy("cand").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s["c"],
        ).alias("cvec")
    )
    one = carr.agg(
        F.sort_array(F.collect_list(F.struct("cand", "cvec"))).alias("cents")
    )

    def _d2q(cvec):
        return F.floor(
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    cvec,
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda a, v: a + v,
            )
            * F.lit(1_000_000.0)
        ).cast("long")

    # row-local argmin: cents is sorted by cand, so strict < keeps the
    # smallest cand on d2q ties — identical to the batch
    # (d2q, cand)-ascending row_number pick
    init = F.struct(
        F.lit(None).cast("long").alias("d2q"),
        F.lit(None).cast("int").alias("cand"),
    )
    best = F.aggregate(
        F.col("cents"),
        init,
        lambda acc, c: F.when(
            acc["d2q"].isNull() | (_d2q(c["cvec"]) < acc["d2q"]),
            F.struct(
                _d2q(c["cvec"]).alias("d2q"), c["cand"].alias("cand")
            ),
        ).otherwise(acc),
    )
    assigned = emb_stream.crossJoin(one).select(
        F.col("label"), best["cand"].alias("predicted")
    )
    return assigned.groupBy("label", "predicted").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )


def disorder_monitor(events: DataFrame) -> DataFrame:
    """Streaming watermark-calibration monitor — the live twin of the
    batch events.disorder_audit / watermark_advisor pair: per
    event TYPE, keyed state carries the running event-time frontier
    and cumulative lateness stats, updated each micro-batch and
    emitted as one row per type per batch. Run it beside a production
    job and the `max_lateness_us` column IS the evidence the job's
    withWatermark delay must cover.

    Semantics: the frontier is per-type (keyed state shards by the
    group key — the scalable keyed-state shape; the batch audit's
    GLOBAL frontier has no per-key streaming equivalent), and rows
    fold in event_id order within each batch (vectorized numpy
    running-max, no Python row loop). Over a single availableNow
    batch this equals the batch computation with a per-type frontier
    — the property the oracle checks.

    Output: (event_type, n_events, n_late, max_lateness_us,
    total_lateness_us).
    """

    def fold(event_type, state, batch):
        frontier, n, n_late, mx, tot = state
        late, frontier = _lateness_us(frontier, batch)
        n += len(late)
        n_late += int((late > 60_000_000).sum())
        mx = max(mx, int(late.max()))
        tot += int(late.sum())
        return (frontier, n, n_late, mx, tot), [
            (event_type, n, n_late, mx, tot)
        ]

    return _keyed_state(
        events,
        "event_type",
        fold,
        "event_type string, n_events long, n_late long,"
        " max_lateness_us long, total_lateness_us long",
        "frontier long, n long, n_late long, mx long, tot long",
        (-1, 0, 0, 0, 0),
        ("event_id",),
        "update",
    )


def scd2_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of events.scd2_build: per-user keyed state
    carries the OPEN run (current state, its start, its version
    index); each micro-batch folds its rows in event-time order and
    emits every interval it CLOSES — exactly the append-mode shape
    of a type-2 dimension feed (the open run is never emitted; it
    closes in a later batch or stays in state).

    Semantics contract: rows fold in (ts, event_id) order WITHIN a
    batch (sorted here). ACROSS batches the fold is guarded by a
    per-user event-time frontier carried in state: a row arriving
    with ts strictly below the frontier of an earlier batch cannot
    be folded correctly any more (its run boundary is already
    emitted), so it is SKIPPED and counted instead of silently
    corrupting the run-collapse. Every emitted interval carries
    `disorder_seen` — the user's cumulative skipped-late-row count
    at emission — so a downstream consumer can quarantine a user's
    history the moment its feed shows disorder (routing/alerting is
    the disorder_monitor's department). Over a finite in-order drain
    (the oracle's single availableNow batch) no row is ever late,
    disorder_seen is identically 0, and the emitted set equals the
    batch scd2_build rows whose valid_to_us is non-NULL.

    State per user is ONE (state, from_us, version, frontier,
    n_late) tuple — bounded by user cardinality, the canonical
    keyed-state shape. Output: (user_id, state, valid_from_us,
    valid_to_us, version_seq, disorder_seen).
    """

    def fold(user_id, state, batch):
        cur_state, cur_from, version, frontier, n_late = state
        ts_us = (batch["ts"].astype("int64") // 1000).to_numpy()
        # cross-batch disorder guard: strictly below the frontier
        # means an earlier batch already folded past this instant
        late = ts_us < frontier
        n_late += int(late.sum())
        closed = []
        for t, et in zip(ts_us[~late].tolist(), batch["event_type"][~late]):
            if cur_state is None:
                cur_state, cur_from, version = et, t, 1
            elif et != cur_state:
                closed.append((user_id, cur_state, cur_from, t, version, n_late))
                cur_state, cur_from = et, t
                version += 1
        frontier = max(frontier, int(ts_us.max()))
        return (cur_state, cur_from, version, frontier, n_late), closed

    return _keyed_state(
        events.withWatermark("ts", WATERMARK),
        "user_id",
        fold,
        "user_id long, state string, valid_from_us long,"
        " valid_to_us long, version_seq long, disorder_seen long",
        "cur_state string, cur_from long, version long,"
        " frontier long, n_late long",
        (None, 0, 0, -1, 0),
        ("ts", "event_id"),
        "append",
    )


def stream_export_shards(
    docs_stream: DataFrame,
    path: str,
    n_shards: int = 8,
    checkpoint_dir: str | None = None,
):
    """Streaming ingest → training shards: route each micro-batch
    through the SAME deterministic shard assignment as the batch
    export_training_shards sink (pmod(xxhash64(id, 42), n_shards)),
    so shard membership is a pure function of the id no matter which
    micro-batch delivered the row — batch and streaming exports of
    one corpus land byte-compatible shard layouts.

    foreachBatch writes each batch to its own ``batch=<id>``
    directory with mode("overwrite"): a replayed batch (failure →
    restart from checkpoint) overwrites its own directory instead of
    appending duplicates, making the parquet sink idempotent per
    batch — effectively exactly-once without a transactional table
    format. Readers see standard two-level partition discovery
    (batch=N/shard=K); a shard's full content is
    ``spark.read.parquet(path).filter(col("shard") == k)``.

    Returns the started StreamingQuery (caller drains/stops — see
    run_to_table for the availableNow test idiom).
    """
    from iceberg_diag_spark.sources.sinks import export_training_shards

    return _start_batch_dirs(
        docs_stream,
        path,
        lambda batch_df, d: export_training_shards(batch_df, d, n_shards),
        checkpoint_dir,
        "ckpt_shard_export_",
    )


def repetition_gate_stream(docs_stream: DataFrame) -> DataFrame:
    """Streaming ingest-side repetition monitor: running per-source
    doc and repetitive-doc counts under the Gopher-style gate — the
    live "did a template spammer start flooding this domain?"
    dashboard. The flag is textops.with_repetitive_flag, the SAME
    row-local fold the batch profile uses, so stream and batch can
    never disagree about what "repetitive" means; per-row work is
    stateless, state is one row per source (bounded by #domains) —
    complete-mode aggregation without a watermark is safe at any
    rate. Output: (source, n_docs, n_repetitive)."""
    from iceberg_diag_spark.operators import textops

    flagged = textops.with_repetitive_flag(docs_stream)
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("__repetitive").cast("int"))
        .cast("long")
        .alias("n_repetitive"),
    )


def watermark_advisor_stream(
    events: DataFrame,
    target_ppm: int = 1_000,
) -> DataFrame:
    """Streaming twin of events.watermark_recommendation — the
    monitor that RECOMMENDS the watermark delay live instead of just
    counting violations (closing the disorder_monitor loop): per
    event-type keyed state carries the running event-time frontier
    plus one cumulative would-drop counter per candidate delay; each
    micro-batch re-evaluates the smallest candidate whose cumulative
    drop rate meets the target and emits the updated recommendation
    row. Pointing a production job's withWatermark at this output
    makes the delay self-calibrating (subject to the operator's
    restart-the-query deployment model — Spark watermarks are fixed
    per query run).

    Semantics: frontier and fold are per event type (keyed state
    shards by the group key; the batch advisor's GLOBAL arrival
    frontier has no scalable per-key streaming equivalent — the same
    documented delta as disorder_monitor), rows fold in event_id
    order within each batch via the vectorized running-max, and
    counters accumulate across batches. Over a single availableNow
    batch of a single-type feed this equals the batch
    watermark_recommendation row exactly (pinned in
    tests/test_streaming_watermark.py).

    Output per type per batch: (event_type, n_events,
    recommended_watermark_us, n_dropped, drop_ppm, meets_target).
    """
    # the batch advisor's sweep, so a single drain picks what the batch
    # watermark_recommendation picks
    cands = tuple(int(c) for c in WATERMARK_CANDIDATES_US)

    def fold(event_type, state, batch):
        frontier, n, *drops = state
        late, frontier = _lateness_us(frontier, batch)
        n += len(late)
        drops = [d + int((late > c).sum()) for d, c in zip(drops, cands)]
        # smallest candidate meeting the target on CUMULATIVE counts;
        # largest candidate (flagged) when none does — the exact
        # batch watermark_recommendation pick
        ppms = [1_000_000 * d // max(n, 1) for d in drops]
        pick = next(
            (k for k in range(len(cands)) if ppms[k] <= target_ppm),
            None,
        )
        meets = pick is not None
        k = pick if meets else len(cands) - 1
        return (frontier, n, *drops), [
            (event_type, n, cands[k], drops[k], ppms[k], meets)
        ]

    return _keyed_state(
        events,
        "event_type",
        fold,
        "event_type string, n_events long, recommended_watermark_us"
        " long, n_dropped long, drop_ppm long, meets_target boolean",
        "frontier long, n long, "
        + ", ".join(f"d{k} long" for k in range(len(cands))),
        (-1, 0, *[0] * len(cands)),
        ("event_id",),
        "update",
    )


def expectations_gate_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of events.expectations_audit — the live data-
    contract dashboard an ingest pipeline keeps next to the feed.
    Each row expands STATELESSLY into one (rule, violated?) record
    per EXPECTATION_RULES entry (plus the any-drop-rule quarantine
    record) BEFORE the aggregation, so the streaming state is one row
    per rule — bounded by the contract, not the feed — and
    complete-mode aggregation without a watermark is safe at any
    rate. The rule predicates are the SAME SQL strings the batch
    audit compiles, so stream and batch can never disagree about
    what violates the contract; one availableNow drain over the full
    feed equals the batch relation exactly (shared DuckDB oracle).

    Output per rule: (rule_id, severity, n_checked, n_violations,
    violation_ppm, first_bad_event_id)."""
    from iceberg_diag_spark.operators.events import EXPECTATION_RULES

    entries = []
    for rid, sev, pred in EXPECTATION_RULES:
        entries.append(
            f"named_struct('rule_id', '{rid}', 'severity', '{sev}',"
            f" 'viol', ({pred}))"
        )
    drop_or = " OR ".join(
        f"({p})" for _r, s, p in EXPECTATION_RULES if s == "drop"
    )
    entries.append(
        "named_struct('rule_id', '_quarantine', 'severity', 'drop',"
        f" 'viol', ({drop_or}))"
    )
    ex = events.select(
        "event_id",
        F.explode(F.expr(f"array({', '.join(entries)})")).alias("r"),
    )
    return (
        ex.groupBy(
            F.col("r.rule_id").alias("rule_id"),
            F.col("r.severity").alias("severity"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_checked"),
            F.sum(F.col("r.viol").cast("long")).alias("n_violations"),
            F.min(
                F.when(F.col("r.viol"), F.col("event_id"))
            ).alias("first_bad_event_id"),
        )
        .select(
            "rule_id",
            "severity",
            "n_checked",
            F.col("n_violations").cast("long").alias("n_violations"),
            F.expr(
                "CAST(1000000 * n_violations"
                " DIV greatest(n_checked, 1) AS BIGINT)"
            ).alias("violation_ppm"),
            "first_bad_event_id",
        )
    )


def cdc_merge_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of events.cdc_merge_apply — the MERGE-based
    mirror maintained live: per-user keyed state carries the
    tombstone frontier (max delete event_id), the surviving-row
    count, and the latest surviving (event_id, value); each
    micro-batch folds in event_id order and re-emits the user's
    snapshot row. Ops derive from event_type exactly as in batch
    (signup=INSERT, error=DELETE, else UPSERT).

    Disorder contract (the scd2_stream idiom): a DELETE that arrives
    BEHIND the user's id frontier cannot retract exactly — the count
    of previously-applied rows below it is no longer in state — so
    it tombstones only rows beyond the new frontier and increments
    `disorder_seen` instead of silently guessing. Late UPSERTs are
    exact (append + conditional latest). Over a single availableNow
    drain no row is behind a prior batch's frontier, so the output
    equals the batch MERGE relation exactly (shared oracle with
    disorder_seen ≡ 0).

    Output per user per batch: (user_id, present, n_applied,
    last_event_id, last_value, disorder_seen).
    """

    def fold(user_id, state, batch):
        last_d, n_applied, last_eid, last_val, frontier, dis = state
        ops = batch["event_type"].map(
            lambda t: "I" if t == "signup" else ("D" if t == "error" else "U")
        )
        dels = batch.loc[ops == "D", "event_id"]
        if len(dels):
            dis += int((dels < frontier).sum())
            new_last_d = max(last_d, int(dels.max()))
            if new_last_d > last_d and new_last_d >= frontier:
                # in-order delete: every previously applied id is
                # ≤ frontier ≤ the new tombstone → exact reset
                n_applied, last_eid, last_val = 0, None, None
            last_d = new_last_d
        iu = batch.loc[ops.isin(("I", "U")) & (batch["event_id"] > last_d)]
        n_applied += len(iu)
        if len(iu):
            top = iu.iloc[-1]
            if last_eid is None or int(top["event_id"]) > last_eid:
                last_eid = int(top["event_id"])
                last_val = float(top["value"])
        frontier = max(frontier, int(batch["event_id"].max()))
        return (last_d, n_applied, last_eid, last_val, frontier, dis), [
            (user_id, n_applied > 0, n_applied, last_eid, last_val, dis)
        ]

    return _keyed_state(
        events,
        "user_id",
        fold,
        "user_id long, present boolean, n_applied long,"
        " last_event_id long, last_value double, disorder_seen long",
        "last_d long, n_applied long, last_eid long,"
        " last_val double, frontier long, disorder long",
        (-1, 0, None, None, -1, 0),
        ("event_id",),
        "update",
    )


def sli_burn_rate_stream(
    events_stream: DataFrame,
    rollup_path: str,
    checkpoint_dir: str | None = None,
):
    """Streaming twin of events.sli_burn_rate — the live SRE burn-rate
    dashboard, built with the accumulated-rollup idiom (the streaming
    "gold table" recompute): each micro-batch folds into a persistent
    HOURLY rollup (one tiny aggregate per batch, written to its own
    ``batch=<id>`` directory with overwrite — the stream_export_shards
    idempotence trick, so a checkpoint-replayed batch overwrites
    itself instead of double-counting), and the full multi-window burn
    table is recomputed from the re-summed rollup after any batch via
    the BATCH operator's own frame logic (events.sli_frames).

    Why not keyed executor state: the trailing 6 h/24 h frames need
    CROSS-hour reads, which per-key state cannot serve, and a single
    global state key would funnel the feed through one task. The
    rollup relation is metadata-scale (|hours|), so persisting it and
    re-framing per batch costs one bounded aggregate + one bounded
    window — and the drained result is EXACTLY the batch operator on
    the full feed (partial hourly sums compose), which is what the
    driver hash-checks against the shared oracle.

    Returns the started StreamingQuery (caller drains — see
    run_sli_burn_rate_stream for the availableNow idiom);
    read the burn table with sli_burn_rate_from_rollup(spark, path).
    """
    from iceberg_diag_spark.operators.events import hourly_sli_rollup

    return _start_batch_dirs(
        events_stream,
        rollup_path,
        lambda batch_df, d: hourly_sli_rollup(batch_df)
        .write.mode("overwrite")
        .parquet(d),
        checkpoint_dir,
        "ckpt_sli_burn_",
    )


def sli_burn_rate_from_rollup(
    spark: SparkSession, rollup_path: str
) -> DataFrame:
    """Burn table over the accumulated per-batch rollups: re-sum the
    hourly partials (exact — counts compose), then the shared batch
    frame logic."""
    from iceberg_diag_spark.operators.events import sli_frames

    hourly = (
        spark.read.parquet(rollup_path)
        .groupBy("hour_epoch", "window_start")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("n_errors").cast("long").alias("n_errors"),
        )
    )
    return sli_frames(hourly)


def run_sli_burn_rate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain helper: run the streaming burn-rate twin over the finite
    events directory (availableNow) and return the final burn table —
    the relation the driver hash-checks against the batch oracle."""
    with _drain(
        "sli_burn_rate_stream",
        lambda rollup, ckpt: sli_burn_rate_stream(
            read_events_stream(spark, sf_dir), rollup, checkpoint_dir=ckpt
        ),
        "sli_rollup_",
        "ckpt_sli_burn_",
    ) as (rollup, _):
        return materialize(sli_burn_rate_from_rollup(spark, rollup), eager=True)


def seasonality_profile_stream(
    events_stream: DataFrame,
    rollup_path: str,
    checkpoint_dir: str | None = None,
):
    """Streaming twin of events.seasonality_profile (twin #21) — the
    live weekly-baseline builder, via the same accumulated-rollup
    idiom as sli_burn_rate_stream: each micro-batch folds into a
    persistent (event_type, hour_epoch) rollup partial written to an
    idempotent ``batch=<id>`` directory, and the 168-cell profile is
    recomputed from the re-summed rollup with the BATCH operator's
    own logic (events.seasonality_from_hourly).

    Why not keyed state: the seasonal index divides every cell by the
    type's OVERALL mean, so any new hour re-prices all 168 cells —
    cross-key reads per-key state cannot serve; the rollup relation
    is metadata-scale, so re-deriving the profile per batch is one
    bounded aggregate chain. A single availableNow drain equals the
    batch operator exactly (hourly count partials compose).
    """
    from iceberg_diag_spark.operators.events import hourly_type_rollup

    return _start_batch_dirs(
        events_stream,
        rollup_path,
        lambda batch_df, d: hourly_type_rollup(batch_df)
        .write.mode("overwrite")
        .parquet(d),
        checkpoint_dir,
        "ckpt_seasonality_",
    )


def seasonality_from_rollup(
    spark: SparkSession, rollup_path: str
) -> DataFrame:
    """Profile over the accumulated per-batch rollups: re-sum the
    hourly partials (exact — counts compose), then the shared batch
    cell/outlier logic."""
    from iceberg_diag_spark.operators.events import seasonality_from_hourly

    hourly = (
        spark.read.parquet(rollup_path)
        .groupBy("event_type", "hour_epoch")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    return seasonality_from_hourly(hourly)


def run_seasonality_profile_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Drain helper: run the streaming seasonality twin over the
    finite events directory (availableNow) and return the final
    profile — the relation the driver hash-checks against the batch
    oracle."""
    with _drain(
        "seasonality_profile_stream",
        lambda rollup, ckpt: seasonality_profile_stream(
            read_events_stream(spark, sf_dir), rollup, checkpoint_dir=ckpt
        ),
        "seasonality_rollup_",
        "ckpt_seasonality_",
    ) as (rollup, _):
        return materialize(seasonality_from_rollup(spark, rollup), eager=True)


def corpus_release_stream(
    docs_stream: DataFrame,
    release_path: str,
    checkpoint_dir: str | None = None,
):
    """Streaming twin #22: INCREMENTAL corpus release — production
    releases append; this folds each micro-batch's funnel survivors
    into the shard layout idempotently. Every batch runs the SAME
    release logic as the batch sink (funnel.release_assignments:
    quality gate → exact dedup → near-dup collapse → holdout → md5
    shard membership → fit-before-append packing) and lands via the
    same writer (funnel._write_release) under its own
    ``batch=<id>`` directory with mode("overwrite") — a replayed
    batch (failure → restart from checkpoint) overwrites itself
    instead of appending duplicates (the stream_export_shards
    exactly-once idiom). Readers see two-level partition discovery
    (batch=N/shard=K); shard membership is a pure function of the doc
    id, so a shard's cumulative content is one partition-pruned read.

    Scoping contract (documented delta, the incremental_exact_dedup
    family): the funnel's dedup/holdout stages are scoped to each
    INCREMENT — a duplicate pair split across increments is the
    cross-release reconciliation job's to catch, which now exists:
    funnel.release_neardup_reconcile persists each increment's
    MinHash band signatures alongside the shards and probes the
    accumulated store per increment (exact cross-batch dups surface
    there too, via the persisted content hash — the same class
    incremental_exact_dedup_stream gates at ingest). Packing sequence
    ids are likewise per (batch, source, shard). Over a single
    availableNow drain the whole corpus is one increment, so the
    manifest equals the batch corpus_release_manifest exactly — the
    driver's shared-oracle contract.

    Returns the started StreamingQuery (caller drains/stops).
    """
    from iceberg_diag_spark.operators import funnel

    return _start_batch_dirs(
        docs_stream,
        release_path,
        funnel._write_release,
        checkpoint_dir,
        "ckpt_corpus_release_",
    )


def release_manifest_from_stream(
    spark: SparkSession, release_path: str
) -> DataFrame:
    """Manifest over the ACCUMULATED incremental release — re-derived
    from the written files across every increment (the corpus_release
    written-files discipline): per shard, cumulative docs and token
    mass, packed sequences counted per (batch, source, seq_id) —
    sequence ids are scoped to their increment — and the salted
    bit_xor membership digests over every doc id delivered: the batch
    funnel._manifest_agg with ``batch`` leading the sequence key. With
    a single increment batch is constant, so the batch oracle
    applies."""
    from iceberg_diag_spark.operators.funnel import _manifest_agg

    return _manifest_agg(
        spark.read.parquet(release_path), ("batch", "source", "seq_id")
    )


def run_corpus_release_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Drain helper: run the incremental-release twin over the finite
    documents directory (availableNow — one increment) and return the
    accumulated manifest; equals corpus_release_manifest, the relation
    the driver hash-checks against the shared batch oracle."""
    with _drain(
        "corpus_release_stream",
        lambda release, ckpt: corpus_release_stream(
            read_documents_stream(spark, sf_dir), release, checkpoint_dir=ckpt
        ),
        "corpus_release_stream_",
        "ckpt_corpus_release_",
    ) as (release, _):
        return materialize(release_manifest_from_stream(spark, release), eager=True)
