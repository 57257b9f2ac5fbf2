"""Fused end-to-end corpus-build pipeline: the "dataset card" funnel a
training-data release publishes — per-stage survivor counts for
  raw → quality gate → exact dedup → near-dup collapse →
  holdout split → sequence packing
computed as ONE composed DAG over ONE enriched pass of the corpus,
not six re-reads.

Composition contract (what this module actually tests, beyond each
stage's own operator tests): the stages share a single narrow per-doc
lineage. ONE corpus pass — dedup's signature pass
(`dedup._doc_signatures`), with stratum, token count and the quality
gate s1 passed as extra per-doc keys — computes the content hash,
the per-doc scalars AND the MinHash signature, materialized
(~200 B/doc, no text); every later stage (dedup window, banding via
`wide`, near-dup flag join, holdout apportionment + membership, pack
fold) consumes checkpoints — the corpus is scanned exactly ONCE per
build (the exact-dup mark relation and the band signatures are both
carved off that checkpoint, not scans of their own) — asserted in
tests/test_plan_properties.py.

Stage semantics (each stage filters the previous stage's survivors —
deterministic, no RNG):
  1 quality_gate   type-token ratio >= 0.4, alpha ratio >= 0.6, and a
                   confident (non-'und') stopword language pick — the
                   corpus_curation gates.
  2 exact_dedup    survivor = min doc_id among stage-1 docs sharing a
                   normalized-text sha256.
  3 near_dup       connected-components collapse over the candidate
                   pairs restricted to stage-2 survivors: survivor =
                   the component's minimum doc_id — the production
                   near_dup_clusters semantics, reusing
                   dedup.connected_components min-label propagation,
                   so the funnel's stage-3 count equals the CC
                   collapse instead of the (over-dropping) greedy
                   pairwise rule a<b<c chains suffer. Edges with an
                   endpoint that died at stage 1/2 are dropped before
                   the propagation, so a duplicate of filtered-out
                   content is judged only against surviving docs.
                   Candidates come from the production exact-collapsed
                   banding plan, dedup.minhash_candidate_pairs.
  4 train split    exact-quota holdout (largest-remainder per source,
                   sampling.exact_quota_holdout) carved out of stage-3
                   survivors; the train side continues.
  5 packed         fit-before-append sequence packing of the train
                   set (packing.pack_sequences_from_counts — the pack
                   stage reuses the checkpointed token counts, it
                   never re-tokenizes).

Output (6 rows): (stage_id, stage, n_rows, n_tokens) where n_rows is
documents for stages 0-4 and packed sequences for stage 5; n_tokens
is whitespace tokens surviving the stage (stage 5's equals stage 4's
— packing concatenates, it never drops tokens).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from iceberg_diag_spark.functions.parallel import materialize
from iceberg_diag_spark.operators import dedup, packing, sampling, textops
from iceberg_diag_spark.sources.sinks import (
    check_manifest,
    remove_ids,
    write_assigned_shards,
)


def stage_flags(
    docs: DataFrame,
    holdout_ppm: int = 100_000,
    text_col: str = "text",
    id_col: str = "doc_id",
    stratum_col: str = "source",
) -> DataFrame:
    """The funnel's per-doc lineage relation: one row per raw doc with
    (id, stratum, n_tokens, s1..s4) survival flags for stages 1-4 —
    the shared core corpus_build_funnel aggregates into stage counts
    and corpus_release materializes into shards. Pure extraction of
    the funnel's stage logic (plan-identical); see the module
    docstring for stage semantics and the one-corpus-scan contract.
    """
    q = textops.quality_exprs(text_col)
    num_hashes = dedup.MINHASH_NUM_HASHES
    # ONE corpus scan: the per-doc scalars ride the signature pass
    # (dedup._doc_signatures) as group keys. Two consumers (the
    # exact-dedup window, the banding chain's `wide`).
    enriched = materialize(dedup._doc_signatures(
        docs,
        text_col,
        id_col,
        keys=[
            F.col(stratum_col).alias("stratum"),
            F.size(textops.tokens(F.col(text_col)))
            .cast("long")
            .alias("n_tokens"),
            (
                (q["type_token_ratio"] >= 0.4)
                & (q["alpha_ratio"] >= 0.6)
                # "the best language scored a hit" ⟺ "any stopword of
                # any list is present" — arrays_overlap
                # short-circuits and, unlike the greatest-of-structs
                # expression, doesn't defeat codegen subexpression
                # elimination on the shared token split (the struct
                # form measured 3× slower for the WHOLE projection;
                # equivalence is pytest-pinned)
                & F.arrays_overlap(
                    textops.tokens(F.col(text_col)),
                    F.array(*[F.lit(w) for w in textops.ALL_STOPWORDS]),
                )
            ).alias("s1"),
        ],
        num_hashes=num_hashes,
    ))

    # exact-dedup survivor per content hash, BOTH variants in the one
    # window pass on the uniform 32-byte hash key: the stage-2 keep
    # (min id among stage-1 docs) and the unconditional min id — the
    # content_rep_marks relation the banding collapse needs. The
    # window shuffles only the narrow flag columns — the 16 signature
    # columns stay behind on the checkpoint.
    w_ch = Window.partitionBy("__ch")
    flagged = enriched.select(
        id_col, "stratum", "n_tokens", "__ch", "s1"
    ).select(
        id_col,
        "stratum",
        "n_tokens",
        "s1",
        (
            F.col("s1")
            & (
                F.col(id_col)
                == F.min(F.when(F.col("s1"), F.col(id_col))).over(w_ch)
            )
        ).alias("s2"),
        F.min(id_col).over(w_ch).alias("__keep"),
    )
    # three consumers (near-dup flag join, holdout, pack stage)
    flagged = materialize(flagged)
    marks = flagged.select(id_col, "__keep")
    flagged = flagged.drop("__keep")

    # near-dup drop set: connected-components collapse over the
    # candidate pairs restricted to stage-2 survivors — survivor =
    # component min id, exactly the production near_dup_clusters
    # semantics (a<b<c chains keep a and drop {b, c}; the former
    # greedy pairwise rule could also drop nodes whose only link to
    # the minimum runs through a larger intermediate). Pairs come
    # from the production banding plan (exact dups pre-collapsed;
    # star pairs connect collapsed members through their
    # representative). The banding chain consumes the enriched
    # checkpoint's signatures (`wide`) and mark relation (`marked`) —
    # it touches NO text of its own, so the whole funnel build scans
    # the corpus exactly once (the signature pass above). The
    # min-label propagation eager-checkpoints its per-round state, so
    # the final funnel plan consumes only the label checkpoint.
    # Gramless docs (h0 NULL) carry no signature, exactly as the
    # plain signature pipeline never emits them.
    wide = enriched.filter(F.col("h0").isNotNull()).select(
        F.col(id_col), *[f"h{s}" for s in range(num_hashes)]
    )
    pairs = dedup.minhash_candidate_pairs(
        docs,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        marked=marks,
        wide=wide,
    )
    s2_nodes = flagged.filter(F.col("s2")).select(id_col)
    fpairs = pairs.join(
        s2_nodes.withColumnRenamed(id_col, "doc_a"), "doc_a", "semi"
    ).join(s2_nodes.withColumnRenamed(id_col, "doc_b"), "doc_b", "semi")
    labels = dedup.connected_components(s2_nodes, fpairs, id_col=id_col)
    dropped = (
        labels.filter(F.col("cluster_id") != F.col(id_col))
        .select(id_col)
        .withColumn("__nd", F.lit(1))
    )
    staged3 = flagged.join(dropped, id_col, "left").select(
        id_col,
        "stratum",
        "n_tokens",
        "s1",
        "s2",
        (F.col("s2") & F.col("__nd").isNull()).alias("s3"),
    )
    staged3 = materialize(staged3)

    # holdout apportionment over stage-3 survivors (largest-remainder
    # exact quotas, range-sharded membership rank — no single-task
    # window; see sampling.exact_quota_holdout)
    survivors = staged3.filter(F.col("s3")).select(
        id_col, F.col("stratum").alias(stratum_col)
    )
    holdout = sampling.exact_quota_holdout(
        survivors,
        holdout_ppm=holdout_ppm,
        id_col=id_col,
        stratum_col=stratum_col,
    ).select(F.col(id_col), F.lit(1).alias("__ho"))
    staged4 = staged3.join(holdout, id_col, "left").select(
        id_col,
        "stratum",
        "n_tokens",
        "s1",
        "s2",
        "s3",
        (F.col("s3") & F.col("__ho").isNull()).alias("s4"),
    )
    return materialize(staged4)


def corpus_build_funnel(
    docs: DataFrame,
    holdout_ppm: int = 100_000,
) -> DataFrame:
    staged4 = stage_flags(docs, holdout_ppm=holdout_ppm)

    # stages 0-4 in ONE aggregate over the per-doc flag relation,
    # unpivoted to funnel rows via stack (no per-stage re-aggregation)
    flags = [F.lit(True), "s1", "s2", "s3", "s4"]
    agg = staged4.agg(
        *[
            F.sum(F.col(f).cast("long") if isinstance(f, str) else f.cast("long"))
            .cast("long")
            .alias(f"n{k}")
            for k, f in enumerate(flags)
        ],
        *[
            F.coalesce(
                F.sum(
                    F.when(
                        F.col(f) if isinstance(f, str) else f,
                        F.col("n_tokens"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias(f"t{k}")
            for k, f in enumerate(flags)
        ],
    )
    stage_names = [
        "raw", "quality_gate", "exact_dedup", "near_dup", "train",
    ]
    doc_rows = agg.selectExpr(
        "stack(5, "
        + ", ".join(
            f"{k}L, '{stage_names[k]}', n{k}, t{k}" for k in range(5)
        )
        + ") as (stage_id, stage, n_rows, n_tokens)"
    )

    # pack stage rides the checkpointed counts — never re-tokenizes
    train_counts = staged4.filter(F.col("s4")).select(
        F.col("stratum").alias("source"),
        F.pmod(F.col("doc_id"), F.lit(4)).cast("long").alias("shard"),
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tokens",
    )
    packed = (
        packing.pack_sequences_from_counts(train_counts)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.coalesce(F.sum("seq_tokens"), F.lit(0))
            .cast("long")
            .alias("n_tokens"),
        )
        .select(
            F.lit(5).cast("long").alias("stage_id"),
            F.lit("packed").alias("stage"),
            "n_rows",
            "n_tokens",
        )
    )
    return doc_rows.unionByName(packed)


# Release defaults: shard count and the packing capacity the manifest
# is computed against (capacity matches the funnel's packed stage).
RELEASE_N_SHARDS = 8
RELEASE_CAPACITY_TOKENS = 256
# Row order inside a written release shard: packed sequence order.
_RELEASE_ORDER = ("source", "seq_id", "doc_id")


def release_assignments(
    docs: DataFrame,
    n_shards: int = RELEASE_N_SHARDS,
    capacity_tokens: int = RELEASE_CAPACITY_TOKENS,
    holdout_ppm: int = 100_000,
    text_col: str = "text",
    id_col: str = "doc_id",
    stratum_col: str = "source",
) -> DataFrame:
    """Stage-5 of the funnel, EXECUTED: the per-doc release relation
    (source, shard, doc_id, n_tokens, seq_id) over exactly the
    funnel's stage-4 (train) survivors.

    Shard membership is the deterministic md5 bucket of the doc id
    (sampling.hash_bucket — the content-stable, cross-engine idiom
    every sampler here uses), NOT doc_id % n: membership then depends
    only on the id, stays uniform under skewed id ranges, and is
    reproducible from the manifest alone. Sequence packing runs per
    (source, shard) with the production fit-before-append fold
    (packing.pack_assign_from_counts), so a shard's rows regrouped by
    (source, seq_id) ARE the packed training sequences.

    Scale: the fold sees token-count metadata only (~16 B/doc);
    n_shards is the parallelism lever exactly as in pack_sequences.
    """
    from iceberg_diag_spark.operators.sampling import hash_bucket

    flags = stage_flags(
        docs,
        holdout_ppm=holdout_ppm,
        text_col=text_col,
        id_col=id_col,
        stratum_col=stratum_col,
    )
    train = flags.filter(F.col("s4")).select(
        F.col("stratum").alias("source"),
        hash_bucket(F.col(id_col), n_shards).alias("shard"),
        F.col(id_col).cast("long").alias("doc_id"),
        "n_tokens",
    )
    return packing.pack_assign_from_counts(train, capacity_tokens)


def corpus_release_manifest(docs: DataFrame, **kwargs) -> DataFrame:
    """Per-shard release manifest — the dataset card's file-level
    half: for every shard of the executed release, how many docs and
    packed sequences it holds, its token mass, and an exact
    order-insensitive membership checksum (two independently-salted
    60-bit bit_xor digests, sampling.membership_checksums — O(1)
    aggregation state, so the digest scales to billion-doc shards
    where a sort+concat+md5 digest cannot).

    A consumer verifies a delivered shard by recomputing the digest
    over the doc ids it received and comparing to this table; the
    pytest twin asserts the manifest recomputed FROM the written
    parquet shards (corpus_release) matches this relation exactly.

    Output per shard: (shard, n_docs, n_seqs, n_tokens, members_xor,
    members_xor2).
    """
    asg = release_assignments(docs, **kwargs)
    return _manifest_agg(asg)


def _n_seqs(*seq_key: str) -> Column:
    """Distinct packed sequences: each sequence counts once as one
    struct, so a NULL source is a source too (a multi-column
    countDistinct would skip every row with a NULL key column)."""
    return F.countDistinct(F.struct(*seq_key)).cast("long").alias("n_seqs")


def _manifest_agg(
    asg: DataFrame,
    seq_key: tuple[str, ...] = ("source", "seq_id"),
    keys: tuple[str, ...] = ("shard",),
    extra: tuple[Column, ...] = (),
) -> DataFrame:
    """The release manifest over an assignment relation: the
    membership manifest of the doc ids per shard (``keys``, cast to
    long) with docs, packed sequences and token mass. Shared by the
    plan-side manifest, the written-files re-check, the incremental
    release (whose sequence ids are scoped to their increment, so its
    ``seq_key`` leads with ``batch``) and the retraction's per-(batch,
    shard) ledger (which adds its counts as ``extra``), so they can
    never drift."""
    return sampling.membership_manifest(
        asg,
        [F.col(k).cast("long").alias(k) for k in keys],
        F.col("doc_id"),
        "n_docs",
        _n_seqs(*seq_key),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        *extra,
    )


def corpus_release(docs: DataFrame, path: str, **kwargs) -> DataFrame:
    """Execute the release end-to-end: materialize the stage-5
    assignment relation as prunable shard=K parquet directories (the
    export_training_shards layout via sinks.write_assigned_shards)
    and return the per-shard manifest computed FROM THE WRITTEN FILES
    — so the returned manifest vouches for what actually landed on
    disk, not for the plan that was supposed to land there.
    """
    _write_release(docs, path, **kwargs)
    return _manifest_agg(docs.sparkSession.read.parquet(path))


def _write_release(
    docs: DataFrame,
    path: str,
    n_shards: int = RELEASE_N_SHARDS,
    capacity_tokens: int = RELEASE_CAPACITY_TOKENS,
    **kwargs,
) -> None:
    """The one release writer: the stage-5 assignment relation as
    shard=K parquet directories under ``path``, rows in packed
    sequence order. The batch release, each streaming increment and
    each reconcile increment land through it."""
    asg = release_assignments(
        docs, n_shards=n_shards, capacity_tokens=capacity_tokens, **kwargs
    )
    write_assigned_shards(
        asg, path, n_shards, order_cols=_RELEASE_ORDER
    )


def read_release_sequences(spark, path: str) -> DataFrame:
    """Consumer side of corpus_release: reconstruct the packed
    training sequences from a written release — group each shard's
    rows by (shard, source, seq_id) with doc_ids in fold order. The
    per-sequence collect is bounded by construction (a sequence holds
    at most capacity_tokens docs, or exactly one overflow doc), so
    the aggregate state is capacity-bounded, never corpus-bounded.

    Output per sequence: (shard, source, seq_id, doc_ids, doc_count,
    seq_tokens) — grouping this back by nothing reproduces the
    pack_sequences_from_counts aggregate (pytest-pinned).
    """
    rows = spark.read.parquet(path)
    return rows.groupBy(
        F.col("shard").cast("long").alias("shard"), "source", "seq_id"
    ).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", "n_tokens"))),
            lambda s: s["doc_id"],
        ).alias("doc_ids"),
        F.count(F.lit(1)).cast("long").alias("doc_count"),
        F.sum("n_tokens").cast("long").alias("seq_tokens"),
    )


def verify_release(spark, path: str, manifest: DataFrame) -> DataFrame:
    """Verify a DELIVERED release against its published manifest
    through sinks.check_manifest: the per-shard manifest recomputes
    from the files at `path`, so a shard that was lost, truncated,
    duplicated, row-tampered or added in transit cannot come back ok
    — the salted bit_xor membership digests catch any doc-id set
    change, the token sum any payload-count change.

    Output per shard (published ∪ delivered): (shard, ok,
    n_docs_expected, n_docs_actual, tokens_expected, tokens_actual)
    — ok is true only when every manifest column matches exactly.
    """
    return check_manifest(
        manifest.withColumn("shard", F.col("shard").cast("long")),
        _manifest_agg(spark.read.parquet(path)),
        "shard",
        ("n_docs", "n_seqs", "n_tokens", "members_xor", "members_xor2"),
        [("n_docs", "n_docs"), ("n_tokens", "tokens")],
    )


RECONCILE_SIG_BUCKETS = RELEASE_N_SHARDS
# The reconcile signature store: one row per (doc, band) under
# batch=<id>/sb=<bucket>, rows in (band, band_key, doc_id) order.
_SIG_FILE_SCHEMA = "doc_id long, band int, band_key string, ch string, sb long"
_SIG_ORDER = ("band", "band_key", "doc_id")


def _read_if_present(spark, path: str, schema: str) -> DataFrame | None:
    """``path`` read with ``schema``, or None when it does not exist
    yet. Only PATH_NOT_FOUND means absent: any other analysis failure
    propagates rather than pass an unreadable store off as empty."""
    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return None
        raise


def release_neardup_reconcile(
    spark,
    increments,
    release_path: str,
    sig_path: str,
) -> DataFrame:
    """Cross-increment near-dup reconciliation for the INCREMENTAL
    release (closes the scoping contract corpus_release_stream
    documents: per-increment dedup defers duplicate pairs SPLIT
    ACROSS increments to this job).

    `increments` is an ordered sequence of (batch_id, raw docs of
    that increment) — either the FULL sequence the release was built
    from (replay/audit usage: every increment's signatures recompute
    and overwrite idempotently) or ONLY the increments not yet
    reconciled, typically just the newest one (the incremental
    production usage: prior increments are probed from the persisted
    signature store, so each increment's text is read and signed
    exactly once over the release's life). Both are in-contract —
    the store probe runs for EVERY increment passed, including the
    first of the call (a genuinely-first increment probes an empty
    `batch < id` slice and contributes nothing). For each increment,
    ascending:
      1. its released survivors come FROM THE WRITTEN RELEASE —
         the batch=<id> directory's doc_ids (partition-pruned read),
         semi-joined back to the increment's raw docs for text;
      2. the production MinHash band keys (minhash_signatures_wide /
         minhash_band_keys — same family, bands, shingle width as
         the funnel's own candidate generator) plus the normalized
         content hash are computed in ONE pass over the checkpointed
         survivor text and PERSISTED alongside the release under
         sig_path/batch=<id> (idempotent overwrite — a replayed
         increment rewrites its own signatures, the
         corpus_release_stream exactly-once idiom; sb=K band-key
         hash-bucket directories via sinks.write_assigned_shards,
         byte-stable);
      3. the increment then PROBES the accumulated store — a
         (band, band_key) equi-join of its own WRITTEN signature
         files against the store filtered to batch < id — emitting
         cross-batch candidate pairs. Bucketed, never all-pairs: a
         pair costs a row only when two documents share a band key,
         exactly the in-increment banding guarantee. Signatures are
         computed ONCE per increment ever (step 2's write) and
         probed from disk, so increment N+1 never re-reads prior
         increments' text (pass only new increments to realize
         this — a full-sequence replay re-signs everything it is
         given, by design).

    `sig_path` must be DEDICATED to one release lineage: batch ids
    found in the store that are neither in the written release nor
    in this call's increments mean the directory holds another
    lineage's signatures (a renumbered or recomposed release), whose
    rows would surface as phantom candidate pairs — the call
    validates this up front (two bounded partition-column distincts)
    and refuses rather than emitting wrong pairs. Retractions keep
    the store consistent automatically when applied with
    release_retraction_apply(sig_path=...): retracted docs' rows are
    purged, so no later increment can pair against a document that
    is no longer in the release, and a fully-retracted batch leaves
    the store exactly as it leaves the release.

    An exact cross-batch duplicate (same normalized text landing in
    two increments — per-increment exact dedup cannot see it)
    collides in ALL bands and is flagged exact_dup via the persisted
    content hash. Documents shorter than the shingle width carry no
    signature (the MinHash family's stated domain) on either engine.

    The retraction decision is positional: doc_a always belongs to
    the EARLIER batch — released increments are immutable, so the
    later doc_b is the one a retraction list would name.

    At 100 TB: per increment this is one semi-join of the increment
    against its released ids, one signature pass over increment text
    only, one bucketed store join on the uniform band_key — no
    corpus-scale broadcast anywhere (survivor id sets and signature
    relations grow with the corpus; the SCALING.md 6e census
    classes), and the store grows as bands rows/doc of ~120 bytes
    each (a ~44-char band key plus the 64-char content hash, carried
    per row so the probe stays a single join-free file read —
    ~500 B/doc total, microscopic next to the text it indexes). The per-increment survivor checkpoint exists so the two
    text consumers (signature chain + content hash) share ONE
    semi-join/text-shuffle; its references are dropped when the
    increment's write completes, so ContextCleaner reclaims each
    increment's blocks as the next one runs — pinned storage is
    bounded by ~one increment of survivor text, never the whole
    release.

    Output: (batch_a, doc_a, batch_b, doc_b, n_shared_bands,
    exact_dup), batch_a < batch_b, ordered.
    """
    from iceberg_diag_spark.operators import dedup
    from iceberg_diag_spark.operators.sampling import hash_bucket
    ids = [int(b) for b, _ in increments]
    if ids != sorted(ids) or len(set(ids)) != len(ids):
        raise ValueError(
            "increments must be (batch_id, docs) in ascending batch "
            f"order without repeats, got {ids}"
        )
    # Explicit read schemas everywhere: an increment whose funnel
    # dropped EVERY doc leaves a fileless batch=<id> directory
    # (partitionBy of an empty relation writes only _SUCCESS), and
    # schema INFERENCE over it throws UNABLE_TO_INFER_SCHEMA — an
    # all-junk increment must contribute zero pairs, not abort the
    # job and lose every other increment's candidates.
    rel_schema = "doc_id long, batch long"

    # Lineage guard: a reused sig_path holding batch dirs from a
    # DIFFERENT release composition would contribute phantom pairs
    # (the idempotent overwrite only protects batch ids present in
    # this call). Store batches must all be accounted for by the
    # written release or by this call's increments. Both distincts
    # touch only the partition column (footer row counts, no data
    # pages) and collect at most one row per increment ever written.
    def _batch_ids(path: str, schema: str) -> set[int]:
        rel = _read_if_present(spark, path, schema)
        if rel is None:
            return set()
        return {r["batch"] for r in rel.select("batch").distinct().collect()}

    store_batches = _batch_ids(sig_path, f"{_SIG_FILE_SCHEMA}, batch long")
    if store_batches:
        release_batches = _batch_ids(release_path, rel_schema)
        foreign = store_batches - release_batches - set(ids)
        if foreign:
            raise ValueError(
                f"sig_path {sig_path!r} holds signature batches "
                f"{sorted(foreign)} that are neither in the written "
                "release nor in this call's increments — the store "
                "must be dedicated to one release lineage (clear it "
                "when the increment composition changes)"
            )

    results = []
    for b, docs_b in increments:
        b = int(b)
        released = (
            spark.read.schema(rel_schema)
            .parquet(release_path)
            .filter(F.col("batch") == b)
            .select("doc_id")
        )
        surv = materialize(
            docs_b.join(released, "doc_id", "semi")
            .select("doc_id", "text")
        )
        wide = dedup.minhash_signatures_wide(surv)
        keys = dedup.minhash_band_keys(surv, wide=wide).join(
            surv.select(
                "doc_id",
                F.sha2(
                    dedup.normalized_text(F.col("text")), 256
                ).alias("ch"),
            ),
            "doc_id",
        )
        write_assigned_shards(
            keys.select(
                # cast pins the written type to the read schema below
                # whatever integer width the caller's doc_id carries
                F.col("doc_id").cast("long").alias("doc_id"),
                "band",
                "band_key",
                "ch",
                hash_bucket(
                    F.col("band_key"), RECONCILE_SIG_BUCKETS
                ).alias("sb"),
            ),
            f"{sig_path}/batch={b}",
            RECONCILE_SIG_BUCKETS,
            shard_col="sb",
            order_cols=_SIG_ORDER,
        )
        # Probe UNCONDITIONALLY — "first increment of this call" is
        # not "first increment ever" (incremental callers pass only
        # the new batch). For a genuinely-first increment the
        # batch < b partition filter prunes to zero files and the
        # probe contributes nothing.
        own = (
            spark.read.schema(_SIG_FILE_SCHEMA)
            .parquet(f"{sig_path}/batch={b}")
            .select(
                F.col("doc_id").alias("doc_b"),
                "band",
                "band_key",
                F.col("ch").alias("ch_b"),
            )
        )
        store = (
            spark.read.schema(f"{_SIG_FILE_SCHEMA}, batch long")
            .parquet(sig_path)
            .filter(F.col("batch") < b)
            .select(
                F.col("batch").alias("batch_a"),
                F.col("doc_id").alias("doc_a"),
                "band",
                "band_key",
                F.col("ch").alias("ch_a"),
            )
        )
        results.append(
            store.join(own, ["band", "band_key"])
            .groupBy("batch_a", "doc_a", "doc_b")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_shared_bands"),
                F.max(
                    (F.col("ch_a") == F.col("ch_b")).cast("int")
                ).alias("_ex"),
            )
            .select(
                "batch_a",
                "doc_a",
                F.lit(b).cast("long").alias("batch_b"),
                "doc_b",
                "n_shared_bands",
                (F.col("_ex") == 1).alias("exact_dup"),
            )
        )
    schema = (
        "batch_a long, doc_a long, batch_b long, doc_b long, "
        "n_shared_bands long, exact_dup boolean"
    )
    if not results:
        return spark.createDataFrame([], schema)
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out.orderBy("batch_b", "batch_a", "doc_a", "doc_b")


RELEASE_FILE_SCHEMA = "source string, doc_id long, n_tokens long, seq_id long"

# Sentinel distinguishing "caller never considered the signature
# store" (an error — see release_retraction_apply) from the explicit
# opt-out sig_path=None ("this release lineage has no store").
_SIG_PATH_UNSET = object()


def release_retraction_apply(
    spark,
    pairs: DataFrame,
    release_path: str,
    min_shared_bands: int = 1,
    sig_path=_SIG_PATH_UNSET,
) -> DataFrame:
    """Advisor-EXECUTING pattern #9 — apply the retraction
    release_neardup_reconcile names: every cross-batch candidate pair
    designates the LATER batch's document (doc_b) for retraction
    (released increments are immutable; the earlier copy stays), and
    this sink REMOVES those documents from the written release,
    surgically, then re-derives the per-batch manifest FROM THE
    WRITTEN FILES and returns it as a retraction ledger.

    Surgical means partition-pruned at both levels: only batches that
    actually lose a document are opened, and within a batch only the
    shard=K directories holding a retracted doc are rewritten, and
    shards the retraction empties are dropped, through
    sinks.remove_ids (sibling shards are never read, never
    rewritten, byte-untouched). A rewritten shard keeps the release
    sink's (shard; source, seq_id, doc_id) order, so it is
    byte-identical to a fresh build of its surviving rows.

    Surviving rows keep their original seq_id: re-packing after a
    retraction would cascade new sequence boundaries across every
    doc after the hole, rewriting (and invalidating downstream
    caches of) entire shards to save a few padding tokens — a
    sequence simply runs short, which every dataloader already
    handles at shard tails. The ledger's n_seqs_after counts the
    sequences that still hold at least one doc.

    Replay-safe: a retraction list names doc ids, the removal is an
    anti-join, and the rewrite is deterministic — re-applying the
    same pairs finds n_retracted = 0 (nothing present to remove) and
    rewrites nothing (no shard holds a retracted doc). Idempotence
    is pytest-pinned, as is sibling-shard byte-identity.

    `sig_path` is REQUIRED — pass the reconcile's signature store,
    or an explicit ``sig_path=None`` to declare the lineage has no
    store (a release never reconciled incrementally). Leaving it
    unset raises: the docstring-only contract was unenforceable, and
    forgetting the store on a lineage that has one leaves orphan
    signatures — a later reconcile can pair against an
    already-retracted doc_a, and applying THAT pair deletes the last
    copy of content. The purge removes the retracted docs'
    band-key/content-hash rows from the store through the same
    removal path, sinks.remove_ids (only the sb=K bucket dirs
    holding a named doc are rewritten; emptied dirs dropped). Without the purge, orphan signatures keep matching:
    a LATER increment would emit pairs whose doc_a is already
    retracted, and applying those would delete content whose
    "earlier copy" no longer exists — the one chain that can drop
    the last copy of a document. The purge also keeps the store
    consistent with the release for the reconcile's lineage guard
    (a batch whose every doc is retracted leaves the store too, so
    the guard cannot trip on the lineage's own history).

    At 100 TB: the pair relation is candidate-pair-scale — it is
    NEVER broadcast (the 6e census class; both the presence join and
    the anti-join are left to Catalyst stats). Cost is ONE
    metadata-light pass over the release (the presence join + the
    per-(batch, shard) aggregate — counts, token sums, per-shard
    sequence counts and membership digests — collected at partition
    granularity, bounded by #batches x RELEASE_N_SHARDS, not by rows), then
    one read + anti-join + write per AFFECTED shard only, then one
    re-aggregation pass over ONLY the rewritten shard directories
    (partition-pruned OR-predicate on the two partition columns).
    Untouched shards are never read twice: their after-state IS
    their before-state (sibling-shard byte-identity, pytest-pinned),
    so the ledger still vouches for files — rewritten shards from
    the post-write read, untouched shards from the pre-rewrite pass
    over the same bytes. rewrite_partitions' staging copy is bounded
    by one batch's affected shards.

    Output per batch holding at least one document (a fileless
    batch directory — an all-junk increment whose funnel dropped
    every doc writes only _SUCCESS — holds no rows and gets no
    ledger row): (batch, n_docs_before, n_retracted, n_docs_after,
    n_seqs_after, n_tokens_before, n_tokens_retracted,
    n_tokens_after, members_xor_after, members_xor2_after), ordered
    by batch.
    """
    if sig_path is _SIG_PATH_UNSET:
        raise TypeError(
            "release_retraction_apply requires sig_path: pass the "
            "reconcile's signature store so the retracted docs' "
            "signatures are purged with the release, or an explicit "
            "sig_path=None to declare this release lineage has no "
            "store (orphan signatures let a later reconcile pair "
            "against an already-retracted doc and delete the last "
            "copy of content)"
        )
    if min_shared_bands < 1:
        raise ValueError("min_shared_bands must be >= 1")
    retract = materialize(
        pairs.filter(F.col("n_shared_bands") >= min_shared_bands)
        .select(
            F.col("batch_b").cast("long").alias("batch"),
            F.col("doc_b").cast("long").alias("doc_id"),
        )
        .distinct()
        .withColumn("_rt", F.lit(True)),
        eager=True,
    )
    full_schema = f"{RELEASE_FILE_SCHEMA}, shard long, batch long"
    pre = spark.read.schema(full_schema).parquet(release_path)
    # ONE pre-rewrite pass: the release manifest per (batch, shard)
    # plus how many docs and tokens the retraction list names — the
    # after-state of every shard the rewrite will NOT touch (per-shard
    # digests XOR into batch digests, per-shard seq counts sum,
    # because shards partition the key space). Eagerly materialized
    # BEFORE any file is touched.
    grp = materialize(
        _manifest_agg(
            pre.join(retract, ["batch", "doc_id"], "left"),
            keys=("batch", "shard"),
            extra=(
                F.sum(F.when(F.col("_rt"), 1).otherwise(0))
                .cast("long")
                .alias("n_retracted"),
                F.sum(F.when(F.col("_rt"), F.col("n_tokens")).otherwise(0))
                .cast("long")
                .alias("tokens_retracted"),
            ),
        ),
        eager=True,
    )
    # Partition-granularity decision rows: bounded by
    # #batches x RELEASE_N_SHARDS regardless of corpus size.
    affected = grp.filter(F.col("n_retracted") > 0).collect()
    by_batch: dict[int, list] = {}
    for r in affected:
        by_batch.setdefault(int(r["batch"]), []).append(r)
    for b in sorted(by_batch):
        remove_ids(
            spark,
            f"{release_path}/batch={b}",
            f"{RELEASE_FILE_SCHEMA}, shard long",
            "shard",
            retract.filter(F.col("batch") == b).select("doc_id"),
            [(r["shard"], r["n_docs"], r["n_retracted"]) for r in by_batch[b]],
            RELEASE_N_SHARDS,
            _RELEASE_ORDER,
        )
    if sig_path is not None:
        # Driven by the retraction list, NOT by the release hits: a
        # replay after a crash between the release rewrite and this
        # purge finds no release hits but must still clean the store.
        sig_batches = sorted(
            int(r["batch"])
            for r in retract.select("batch").distinct().collect()
        )
        _purge_signature_store(
            spark, retract, sig_path, sig_batches, RECONCILE_SIG_BUCKETS
        )
    before = grp.groupBy("batch").agg(
        F.sum("n_docs").cast("long").alias("n_docs_before"),
        F.sum("n_retracted").cast("long").alias("n_retracted"),
        F.sum("n_tokens").cast("long").alias("n_tokens_before"),
        F.sum("tokens_retracted").cast("long").alias("n_tokens_retracted"),
    )
    # After-state per shard: rewritten shards re-read FROM THE
    # WRITTEN FILES (partition-pruned to exactly the affected
    # (batch, shard) dirs); untouched shards reuse their pre-pass row
    # — same bytes on disk, byte-identity pytest-pinned — so the
    # whole release is never scanned a second time.
    untouched = grp.filter(F.col("n_retracted") == 0).drop(
        "n_retracted", "tokens_retracted"
    )
    per_shard_after = untouched
    if affected:
        pred = None
        for b, rows in by_batch.items():
            p = (F.col("batch") == b) & F.col("shard").isin(
                [int(r["shard"]) for r in rows]
            )
            pred = p if pred is None else (pred | p)
        post = _manifest_agg(
            spark.read.schema(full_schema).parquet(release_path).filter(pred),
            keys=("batch", "shard"),
        )
        per_shard_after = untouched.unionByName(post)
    after = per_shard_after.groupBy("batch").agg(
        F.sum("n_docs").cast("long").alias("n_docs_after"),
        F.sum("n_seqs").cast("long").alias("n_seqs_after"),
        F.sum("n_tokens").cast("long").alias("n_tokens_after"),
        F.bit_xor("members_xor").alias("members_xor_after"),
        F.bit_xor("members_xor2").alias("members_xor2_after"),
    )
    return (
        before.join(after, "batch", "left")
        .select(
            "batch",
            "n_docs_before",
            "n_retracted",
            F.coalesce(F.col("n_docs_after"), F.lit(0))
            .cast("long")
            .alias("n_docs_after"),
            F.coalesce(F.col("n_seqs_after"), F.lit(0))
            .cast("long")
            .alias("n_seqs_after"),
            "n_tokens_before",
            "n_tokens_retracted",
            F.coalesce(F.col("n_tokens_after"), F.lit(0))
            .cast("long")
            .alias("n_tokens_after"),
            "members_xor_after",
            "members_xor2_after",
        )
        .orderBy("batch")
    )


def _purge_signature_store(
    spark, retract: DataFrame, sig_path: str, batches, sig_buckets: int
) -> None:
    """Remove the retracted docs' rows from the reconcile signature
    store through the release retraction's removal path
    (sinks.remove_ids): per named batch, one bounded per-bucket
    decision aggregate (<= sig_buckets rows), then a rewrite of ONLY
    the sb=K buckets holding a named doc, in the store's own order
    (byte-identical to a fresh build of the surviving rows), dropping
    the buckets the purge empties. Idempotent: a purged doc produces
    no hits on replay. A batch with no store directory (synthetic
    pairs, or a store the caller never built) is skipped."""
    for b in batches:
        ids = retract.filter(F.col("batch") == b).select("doc_id")
        store = _read_if_present(
            spark, f"{sig_path}/batch={b}", _SIG_FILE_SCHEMA
        )
        if store is None:
            continue  # no store for this batch — nothing to purge
        dec = (
            store.join(ids.withColumn("_hit", F.lit(True)), "doc_id", "left")
            .groupBy("sb")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("_hit"), 1).otherwise(0)).alias("hit"),
            )
            .collect()
        )
        remove_ids(
            spark,
            f"{sig_path}/batch={b}",
            _SIG_FILE_SCHEMA,
            "sb",
            ids,
            [(r["sb"], r["n"], r["hit"]) for r in dec],
            sig_buckets,
            _SIG_ORDER,
        )
