"""Sequence packing — fold documents into fixed token-budget training
windows, the sample-packing step every LLM pretraining pipeline runs
between curation and batching.

Semantics (fit-before-append, the packing counterpart of binpack.py's
check-before-append): walk docs in doc_id order within a shard; append
a doc to the open sequence only if the running token total stays
within the capacity, otherwise close the sequence and start a new one
with that doc. A single doc longer than the capacity forms its own
sequence, flagged ``truncated`` (training would split it; the packer
just reports it).

Spark mapping: ``parallel.fold_by_key`` keyed by (source, shard),
where shard = doc_id % n_shards, sorted by doc_id — one Python call
per Arrow batch folds every (source, shard) of the batch at once. The
shard key is the scale lever — packing is embarrassingly parallel
across shards, so at 100 TB you raise n_shards until each group's
token metadata fits one task comfortably (the fold holds one int per
doc, not the text: ~8 MB per million docs). Nothing wide crosses the
shuffle in either direction. Deterministic for a fixed (capacity,
n_shards): no RNG, order is doc_id.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from iceberg_diag_spark.functions.parallel import fold_by_key, materialize
from iceberg_diag_spark.operators.textops import tokens

_KEYS = ["source", "shard"]
PACK_SCHEMA = pa.schema(
    [("source", pa.string())]
    + [(c, pa.int64()) for c in ("shard", "seq_id", "doc_count", "seq_tokens")]
    + [("truncated", pa.bool_())]
)
PACK_ASSIGN_SCHEMA = pa.schema(
    [("source", pa.string())]
    + [(c, pa.int64()) for c in ("shard", "doc_id", "n_tokens", "seq_id")]
)


def pack_fold(token_counts, capacity: int):
    """Pure-python reference fold, used in property tests: list of
    (doc_count, seq_tokens) per packed sequence, in order."""
    seqs: list[tuple[int, int]] = []
    count = 0
    total = 0
    for t in token_counts:
        t = int(t)
        if count and total + t > capacity:
            seqs.append((count, total))
            count = 0
            total = 0
        count += 1
        total += t
    if count:
        seqs.append((count, total))
    return seqs


def pack_sequences(
    docs: DataFrame,
    capacity_tokens: int = 256,
    n_shards: int = 4,
) -> DataFrame:
    """Pack documents into training sequences of <= capacity_tokens
    whitespace tokens (per (source, shard); shard = doc_id % n_shards).

    Output: (source, shard, seq_id, doc_count, seq_tokens, truncated)
    — truncated is true only for single-doc sequences whose doc alone
    exceeds the capacity.
    """
    base = docs.select(
        "source",
        F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("long").alias("shard"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return pack_sequences_from_counts(base, capacity_tokens)


def _seq_ids(
    n_tokens: np.ndarray, starts: np.ndarray, capacity: int
) -> np.ndarray:
    """Each row's seq_id under fit-before-append, counted from 0 in
    every key group of a ``fold_by_key`` batch (one group from each
    row of ``starts``; rows in doc_id order): one pass over the rows,
    reset at every key start."""
    is_start = np.zeros(len(n_tokens), dtype=bool)
    is_start[starts] = True
    seq = np.empty(len(n_tokens), dtype="int64")
    sid = total = 0
    for i, (t, first) in enumerate(zip(n_tokens.tolist(), is_start.tolist())):
        if first:
            sid = total = 0
        elif total + t > capacity:
            sid, total = sid + 1, 0
        total += t
        seq[i] = sid
    return seq


def _counts(base: DataFrame) -> DataFrame:
    """The fold input, typed as both output schemas declare it."""
    longs = (f"CAST({c} AS BIGINT) AS {c}" for c in ("shard", "doc_id", "n_tokens"))
    return base.selectExpr("CAST(source AS STRING) AS source", *longs)


def pack_sequences_from_counts(
    base: DataFrame, capacity_tokens: int = 256
) -> DataFrame:
    """Packing fold over a PRE-COMPUTED (source, shard, doc_id,
    n_tokens) relation — the entry point for fused pipelines
    (corpus_build_funnel) whose upstream already carries token counts
    and must not re-tokenize the corpus for the pack stage. Same
    fold and output schema as pack_sequences: one row per sequence,
    the per-row seq_ids of ``_seq_ids`` summed with np.add.reduceat."""

    def _pack(batch, starts):
        n_tokens = batch.column("n_tokens").to_numpy()
        seq = _seq_ids(n_tokens, starts, capacity_tokens)
        first = np.union1d(starts, np.flatnonzero(np.diff(seq, prepend=-1)))
        seq_tokens = np.add.reduceat(n_tokens, first)
        return pa.RecordBatch.from_arrays(
            [batch.column(k).take(first) for k in _KEYS]
            + [
                seq[first],
                np.diff(first, append=batch.num_rows),
                seq_tokens,
                seq_tokens > capacity_tokens,
            ],
            schema=PACK_SCHEMA,
        )

    return fold_by_key(_counts(base), _KEYS, ["doc_id"], _pack, PACK_SCHEMA)


def pack_assign_from_counts(
    base: DataFrame, capacity_tokens: int = 256
) -> DataFrame:
    """Per-DOC sequence assignment under the same fit-before-append
    fold as pack_sequences_from_counts: each input row comes back with
    the seq_id it lands in, instead of the per-sequence aggregate —
    the file-level form a corpus RELEASE materializes (a dataloader
    regroups a shard's rows by seq_id to reconstruct the packed
    sequences, so the mapping, not the aggregate, is what ships).

    Same scale shape as the aggregate fold: per (source, shard) over
    token-count metadata only (~16 B/doc, no text), deterministic
    doc_id order, one row out per row in. Invariant (pytest-pinned):
    grouping the output by seq_id reproduces
    pack_sequences_from_counts' (doc_count, seq_tokens) exactly.
    """

    def _assign(batch, starts):
        n_tokens = batch.column("n_tokens").to_numpy()
        seq = _seq_ids(n_tokens, starts, capacity_tokens)
        return pa.RecordBatch.from_arrays(
            batch.columns + [seq], schema=PACK_ASSIGN_SCHEMA
        )

    return fold_by_key(_counts(base), _KEYS, ["doc_id"], _assign, PACK_ASSIGN_SCHEMA)


# Power-of-two ladder for bucketed padding: smallest 2^k >= n, floor
# 16, cap 2^20 (any longer sequence pads to the cap bucket). A CASE
# ladder instead of log2 so the bucket is integer-exact on any engine.
_POW2_BUCKETS = [1 << k for k in range(4, 21)]


def _pow2_bucket(n):
    expr = F.lit(_POW2_BUCKETS[-1]).cast("long")
    for b in reversed(_POW2_BUCKETS):
        expr = F.when(n <= b, F.lit(b).cast("long")).otherwise(expr)
    return expr


def padding_waste_audit(docs: DataFrame, batch_size: int = 32) -> DataFrame:
    """Training-batch padding-waste audit: how many pad tokens does
    each batching policy burn? The efficiency counterpart of
    pack_sequences (which ELIMINATES padding by concatenation; many
    fine-tuning setups can't pack and must pad, and this table says
    what that choice costs under each policy):

      global_max      every sequence pads to the corpus max — the
                      naive dataloader
      pow2_bucket     each sequence pads to the next power-of-two
                      bucket (≥16) — length-bucketed loading
      sorted_batches  sort by length, take batches of `batch_size`
                      consecutive sequences, pad to the batch max —
                      the optimal-ordering baseline

    All-integer accounting: token counts are exact, bucket edges are
    a CASE ladder (no log2), and the sorted policy ranks through
    shuffling.grouped_prefix_sum — no single-task sort. Output:
    (strategy, n_docs, total_tokens, padded_tokens, waste_ppm) with
    waste_ppm = floor(1e6 · (padded − total) / padded).
    """
    from iceberg_diag_spark.operators.shuffling import grouped_prefix_sum

    # four consumers (the three policies, the global max)
    base = materialize(docs.select(
        F.col("doc_id"), F.size(tokens(F.col("text"))).cast("long").alias("n")
    ))

    def _summary(strategy, padded_col_df):
        return padded_col_df.agg(
            F.lit(strategy).alias("strategy"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n").cast("long").alias("total_tokens"),
            F.sum("padded").cast("long").alias("padded_tokens"),
        ).withColumn(
            "waste_ppm",
            F.floor(
                F.lit(1_000_000.0)
                * (F.col("padded_tokens") - F.col("total_tokens"))
                / F.col("padded_tokens")
            ).cast("long"),
        )

    mx = base.agg(F.max("n").alias("mx"))
    g_max = _summary(
        "global_max",
        base.crossJoin(F.broadcast(mx)).withColumn(
            "padded", F.col("mx").cast("long")
        ),
    )
    pow2 = _summary(
        "pow2_bucket", base.withColumn("padded", _pow2_bucket(F.col("n")))
    )
    batch_max = (
        grouped_prefix_sum(base, [], ["n", "doc_id"])
        .withColumn("batch", F.floor(F.col("prefix") / batch_size).cast("long"))
        .groupBy("batch")
        .agg(
            F.count(F.lit(1)).alias("bn"),
            F.sum("n").alias("bsum"),
            F.max("n").alias("bmax"),
        )
    )
    sorted_b = batch_max.agg(
        F.lit("sorted_batches").alias("strategy"),
        F.sum("bn").cast("long").alias("n_docs"),
        F.sum("bsum").cast("long").alias("total_tokens"),
        F.sum(F.col("bn") * F.col("bmax")).cast("long").alias("padded_tokens"),
    ).withColumn(
        "waste_ppm",
        F.floor(
            F.lit(1_000_000.0)
            * (F.col("padded_tokens") - F.col("total_tokens"))
            / F.col("padded_tokens")
        ).cast("long"),
    )
    return g_max.unionByName(pow2).unionByName(sorted_b)
