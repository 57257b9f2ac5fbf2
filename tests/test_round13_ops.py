"""Round-13 operator contracts: the release_neardup_reconcile
incremental-usage fix (probe every increment; lineage-guard the
signature store) and release_retraction_apply (the executing sink
that closes the reconcile loop — surgical rewrite of the written
release plus a files-derived retraction ledger)."""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from iceberg_diag_spark.operators import funnel
from iceberg_diag_spark.sources.sinks import write_assigned_shards

from helpers import (
    DOCS_SCHEMA,
    PAIRS_SCHEMA,
    SHARED_EXACT,
    SHARED_NEAR,
    THREE_EXACT,
    _mk_clean,
    write_release,
)


def _shard_bytes(shard_dir: str) -> bytes:
    h = hashlib.sha256()
    for f in sorted(glob.glob(f"{shard_dir}/*.parquet")):
        h.update(open(f, "rb").read())
    return h.digest()


# ------------------------------------------------------------------
# reconcile: incremental usage + lineage guard (the r13 contract fix)
# ------------------------------------------------------------------


def test_reconcile_incremental_equals_full(spark, tmp_path):
    """The production incremental contract: passing each increment in
    its own call (signatures of prior increments probed from the
    store, their text never re-read) yields exactly the pairs the
    full-sequence call yields — the probe must run for the first
    increment OF EACH CALL, not only from the second element on."""
    inc0 = _mk_clean(0, 10) + [(100, SHARED_EXACT, "en", "web", 1)]
    inc1 = _mk_clean(1000, 10) + [(1100, SHARED_EXACT, "en", "web", 1)]
    release = str(tmp_path / "rel")
    incs = write_release(spark, release, [(0, inc0), (1, inc1)])

    sig_full = str(tmp_path / "sig_full")
    full = sorted(
        tuple(r)
        for r in funnel.release_neardup_reconcile(
            spark, incs, release, sig_full
        ).collect()
    )
    assert full, "planted exact twin must surface cross-batch"

    sig_inc = str(tmp_path / "sig_inc")
    first = funnel.release_neardup_reconcile(
        spark, incs[:1], release, sig_inc
    ).collect()
    assert first == []  # genuinely-first increment: empty store slice
    second = sorted(
        tuple(r)
        for r in funnel.release_neardup_reconcile(
            spark, incs[1:], release, sig_inc
        ).collect()
    )
    assert second == full


def test_reconcile_rejects_foreign_store_lineage(spark, tmp_path):
    """A sig_path holding a batch id that belongs to neither the
    written release nor the call is another lineage's store — its
    rows would surface as phantom pairs; the call must refuse."""
    release = str(tmp_path / "rel")
    incs = write_release(spark, release, [(0, _mk_clean(0, 8))])
    sig = str(tmp_path / "sig")
    funnel.release_neardup_reconcile(spark, incs, release, sig).collect()
    spark.createDataFrame(
        [(1, 0, "k", "h", 0)],
        "doc_id long, band int, band_key string, ch string, sb long",
    ).write.mode("overwrite").partitionBy("sb").parquet(f"{sig}/batch=99")
    with pytest.raises(ValueError, match="lineage"):
        funnel.release_neardup_reconcile(
            spark, incs, release, sig
        ).collect()


def test_reconcile_oracle_sql_untouched_by_chain_parameterization():
    """The _batch_survivor_chain(pdata=..., final=...)
    parameterization must be default-preserving: the reconcile
    entry's rendered oracle is byte-identical to its form before the
    parameters existed (the hash-green one) — that is what lets
    release_neardup_reconcile keep its green row without a re-score
    slot."""
    from iceberg_diag_spark.plans.oracles_corpus import _RECONCILE_SQL

    assert (
        hashlib.sha256(_RECONCILE_SQL.encode()).hexdigest()
        == "797c1dd2c872d9b2e58c153065d9037a9aefdf3b1cd8237e3de98c7ea4d62ec1"
    )


# ------------------------------------------------------------------
# release_retraction_apply
# ------------------------------------------------------------------


@pytest.fixture(scope="module")
def retracted(spark):
    """A 2-increment release with one exact and one near cross-batch
    twin planted; reconcile names them, retraction applies them."""
    inc0 = _mk_clean(0, 24) + [
        (100, f"{SHARED_NEAR} alpha", "en", "web", 1),
        (200, SHARED_EXACT, "en", "web", 1),
    ]
    inc1 = _mk_clean(1000, 20) + [
        (1100, f"{SHARED_NEAR} omega", "en", "web", 1),
        (1200, SHARED_EXACT, "en", "web", 1),
    ]
    release = tempfile.mkdtemp(prefix="retraction_test_rel_")
    sig = tempfile.mkdtemp(prefix="retraction_test_sig_")
    try:
        incs = write_release(spark, release, [(0, inc0), (1, inc1)])
        pairs = funnel.release_neardup_reconcile(
            spark, incs, release, sig
        ).localCheckpoint(eager=True)
        retract_ids = {
            (r["batch_b"], r["doc_b"]) for r in pairs.collect()
        }
        assert (1, 1100) in retract_ids and (1, 1200) in retract_ids
        pre = {
            (r["batch"], r["shard"]): r["n"]
            for r in spark.read.parquet(release)
            .groupBy("batch", "shard")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        pre_bytes = {
            (b, s): _shard_bytes(f"{release}/batch={b}/shard={s}")
            for (b, s) in pre
        }
        ledger1 = sorted(
            tuple(r)
            for r in funnel.release_retraction_apply(
                spark, pairs, release, sig_path=None
            ).collect()
        )
        post_ids = {
            (r["batch"], r["doc_id"])
            for r in spark.read.parquet(release)
            .select("batch", "doc_id")
            .collect()
        }
        post_bytes = {
            (b, s): _shard_bytes(f"{release}/batch={b}/shard={s}")
            for (b, s) in pre
            if os.path.isdir(f"{release}/batch={b}/shard={s}")
        }
        ledger2 = sorted(
            tuple(r)
            for r in funnel.release_retraction_apply(
                spark, pairs, release, sig_path=None
            ).collect()
        )
        yield {
            "retract_ids": retract_ids,
            "pre": pre,
            "pre_bytes": pre_bytes,
            "post_ids": post_ids,
            "post_bytes": post_bytes,
            "ledger1": ledger1,
            "ledger2": ledger2,
        }
    finally:
        shutil.rmtree(release, ignore_errors=True)
        shutil.rmtree(sig, ignore_errors=True)


def _md5_shard(doc_id: int, n: int = funnel.RELEASE_N_SHARDS) -> int:
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % n


def test_retraction_removes_exactly_the_named_docs(retracted):
    r = retracted
    assert not (r["retract_ids"] & r["post_ids"])
    # nothing else vanished: pre docs == post docs + retracted
    n_pre = sum(r["pre"].values())
    assert len(r["post_ids"]) == n_pre - len(r["retract_ids"])


def test_retraction_ledger_matches_files(retracted):
    led = {row[0]: row for row in retracted["ledger1"]}
    # (batch, n_docs_before, n_retracted, n_docs_after, n_seqs_after,
    #  n_tokens_before, n_tokens_retracted, n_tokens_after, x1, x2)
    b0, b1 = led[0], led[1]
    assert b0[2] == 0 and b0[1] == b0[3]  # earlier batch immutable
    assert b1[2] == len(retracted["retract_ids"])
    assert b1[3] == b1[1] - b1[2]
    assert b1[7] == b1[5] - b1[6]
    post_by_batch = {}
    for b, d in retracted["post_ids"]:
        post_by_batch[b] = post_by_batch.get(b, 0) + 1
    assert b0[3] == post_by_batch.get(0, 0)
    assert b1[3] == post_by_batch.get(1, 0)


def test_retraction_sibling_shards_byte_untouched(retracted):
    r = retracted
    affected = {
        (b, _md5_shard(d)) for (b, d) in r["retract_ids"]
    }
    for key, digest in r["pre_bytes"].items():
        if key not in affected:
            assert r["post_bytes"][key] == digest, (
                f"sibling shard {key} was rewritten"
            )


def test_retraction_replay_idempotent(retracted):
    led1 = {row[0]: row for row in retracted["ledger1"]}
    led2 = {row[0]: row for row in retracted["ledger2"]}
    for b, row2 in led2.items():
        assert row2[2] == 0 and row2[6] == 0  # nothing left to retract
        # after-state identical to the first application's
        assert row2[3:5] == led1[b][3:5]
        assert row2[7:] == led1[b][7:]
        # replay's before == first application's after
        assert row2[1] == led1[b][3] and row2[5] == led1[b][7]


def test_retraction_rewritten_shard_byte_equals_fresh_build(
    spark, tmp_path
):
    """A rewritten shard must be byte-identical to a from-scratch
    write of the same surviving rows — the write_assigned_shards
    determinism contract extended through dynamic overwrite."""
    rows = _mk_clean(0, 40)
    d = spark.createDataFrame(rows, DOCS_SCHEMA)
    asg = funnel.release_assignments(d).localCheckpoint(eager=True)
    release = str(tmp_path / "rel")
    write_assigned_shards(
        asg, f"{release}/batch=0", funnel.RELEASE_N_SHARDS,
        order_cols=("source", "seq_id", "doc_id"),
    )
    victim = asg.limit(1).collect()[0]
    pairs = spark.createDataFrame(
        [(0, -1, 0, victim["doc_id"], 4, True)],
        PAIRS_SCHEMA,
    )
    funnel.release_retraction_apply(spark, pairs, release, sig_path=None).collect()
    fresh = str(tmp_path / "fresh")
    write_assigned_shards(
        asg.filter(F.col("doc_id") != victim["doc_id"]),
        f"{fresh}/batch=0",
        funnel.RELEASE_N_SHARDS,
        order_cols=("source", "seq_id", "doc_id"),
    )
    s = int(victim["shard"])
    assert _shard_bytes(f"{release}/batch=0/shard={s}") == _shard_bytes(
        f"{fresh}/batch=0/shard={s}"
    )


def test_retraction_drops_fully_emptied_shard_dir(spark, tmp_path):
    """Dynamic overwrite cannot replace a shard no surviving row
    lands in — the sink must drop that directory explicitly, and the
    ledger's after-counts must reflect the loss."""
    release = str(tmp_path / "rel")
    write_release(spark, release, [(0, _mk_clean(0, 30))])
    written = spark.read.parquet(f"{release}/batch=0")
    # retract EVERY doc of one shard
    some_shard = int(written.limit(1).collect()[0]["shard"])
    victims = [
        r["doc_id"]
        for r in written.filter(F.col("shard") == some_shard).collect()
    ]
    pairs = spark.createDataFrame(
        [(0, -1 - i, 0, v, 4, True) for i, v in enumerate(victims)],
        PAIRS_SCHEMA,
    )
    led = funnel.release_retraction_apply(spark, pairs, release, sig_path=None).collect()
    assert not os.path.exists(f"{release}/batch=0/shard={some_shard}")
    row = led[0]
    assert row["n_retracted"] == len(victims)
    assert row["n_docs_after"] == row["n_docs_before"] - len(victims)
    back = spark.read.parquet(release)
    assert back.filter(F.col("shard") == some_shard).count() == 0


def test_retraction_min_shared_bands_filter(spark, tmp_path):
    release = str(tmp_path / "rel")
    write_release(spark, release, [(0, _mk_clean(0, 12))])
    victim = int(
        spark.read.parquet(f"{release}/batch=0").limit(1).collect()[0][
            "doc_id"
        ]
    )
    pairs = spark.createDataFrame(
        [(0, -1, 0, victim, 2, False)],
        PAIRS_SCHEMA,
    )
    led = funnel.release_retraction_apply(
        spark, pairs, release,
        min_shared_bands=3, sig_path=None
    ).collect()
    assert all(r["n_retracted"] == 0 for r in led)
    with pytest.raises(ValueError, match="min_shared_bands"):
        funnel.release_retraction_apply(
            spark, pairs, release,
            min_shared_bands=0, sig_path=None
        )


def test_retraction_ledger_plan_hint_free(spark, tmp_path):
    """The registry entry returns an eager checkpoint, so the global
    scale-killer sweep can't see the sink's joins — pin them on the
    LAZY ledger: the presence join and the manifest re-aggregation
    must carry no forced-broadcast hints (the pair relation is
    candidate-pair-scale — the 6e census class that must stay
    stats-driven) and no Python."""
    release = str(tmp_path / "rel")
    write_release(spark, release, [(0, _mk_clean(0, 12))])
    pairs = spark.createDataFrame([], PAIRS_SCHEMA)
    led = funnel.release_retraction_apply(spark, pairs, release, sig_path=None)
    logical = led._jdf.queryExecution().logical().toString()
    assert "ResolvedHint" not in logical
    plan = led._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_reconcile_replay_prior_increment_with_later_store(
    spark, tmp_path
):
    """Replaying an EARLIER increment while later batches already sit
    in the store (failure -> restart mid-lineage) must re-emit
    exactly that increment's pairs against batches BEFORE it — the
    probe's batch < b filter ignores later store batches, and the
    idempotent overwrite leaves the store's other batches intact."""
    release = str(tmp_path / "rel")
    incs = write_release(spark, release, THREE_EXACT)
    sig = str(tmp_path / "sig")
    full = sorted(
        tuple(r)
        for r in funnel.release_neardup_reconcile(
            spark, incs, release, sig
        ).collect()
    )
    # replay increment 1 alone: only its pairs against batch 0
    replay = sorted(
        tuple(r)
        for r in funnel.release_neardup_reconcile(
            spark, incs[1:2], release, sig
        ).collect()
    )
    want = sorted(t for t in full if t[2] == 1)
    assert replay == want
    # store intact: increment 2's incremental call still sees both
    # earlier batches
    again2 = sorted(
        tuple(r)
        for r in funnel.release_neardup_reconcile(
            spark, incs[2:], release, sig
        ).collect()
    )
    want2 = sorted(t for t in full if t[2] == 2)
    assert again2 == want2


def test_retraction_purges_signature_store(spark, tmp_path):
    """Applying a retraction with sig_path must remove the retracted
    docs' signature rows: a LATER increment's reconcile can no longer
    emit pairs whose doc_a is already gone (the chain that could
    otherwise delete the last remaining copy of a document)."""
    release = str(tmp_path / "rel")
    sig = str(tmp_path / "sig")
    incs = write_release(spark, release, THREE_EXACT)
    pairs01 = funnel.release_neardup_reconcile(
        spark, incs[:2], release, sig
    ).localCheckpoint(eager=True)
    assert {(r["batch_b"], r["doc_b"]) for r in pairs01.collect()} == {
        (1, 1100)
    }
    funnel.release_retraction_apply(
        spark, pairs01, release, sig_path=sig
    ).collect()
    # store no longer holds doc 1100's signatures
    sig_docs = {
        r["doc_id"] for r in spark.read.parquet(sig).collect()
    }
    assert 1100 not in sig_docs
    # increment 2 reconciles against the purged store: its twin pairs
    # with the SURVIVING copy (batch 0) only — never with retracted Y
    pairs2 = funnel.release_neardup_reconcile(
        spark, incs[2:], release, sig
    ).collect()
    assert {(r["batch_a"], r["doc_a"], r["batch_b"], r["doc_b"])
            for r in pairs2} == {(0, 100, 2, 2100)}


def test_retraction_emptied_batch_keeps_lineage_guard_happy(
    spark, tmp_path
):
    """Fully retracting a batch (with sig_path) removes it from both
    the release AND the store, so the reconcile lineage guard cannot
    trip on the lineage's own history at the next incremental call."""
    inc0 = _mk_clean(0, 8)
    inc1 = _mk_clean(1000, 3)
    inc2 = _mk_clean(2000, 8)
    release = str(tmp_path / "rel")
    sig = str(tmp_path / "sig")
    incs = write_release(spark, release, [(0, inc0), (1, inc1), (2, inc2)])
    funnel.release_neardup_reconcile(
        spark, incs[:2], release, sig
    ).collect()
    released1 = [
        r["doc_id"]
        for r in spark.read.parquet(f"{release}/batch=1")
        .select("doc_id")
        .collect()
    ]
    pairs = spark.createDataFrame(
        [(0, -1 - i, 1, v, 4, True) for i, v in enumerate(released1)],
        PAIRS_SCHEMA,
    )
    led = {
        r["batch"]: r
        for r in funnel.release_retraction_apply(
            spark, pairs, release, sig_path=sig
        ).collect()
    }
    assert led[1]["n_docs_after"] == 0
    # store dropped batch 1 entirely (no sb=K dirs left under it)
    assert glob.glob(f"{sig}/batch=1/sb=*") == []
    # the next incremental reconcile call sees a consistent lineage
    out = funnel.release_neardup_reconcile(
        spark, incs[2:], release, sig
    ).collect()
    assert all(r["batch_a"] == 0 for r in out)


def test_retraction_across_multiple_batches(spark, tmp_path):
    """Retractions landing in MORE THAN ONE batch exercise the
    multi-batch rewrite loop and the partition-pruned OR-predicate
    after-read: every named doc gone, per-batch ledger rows correct,
    batch 0 untouched."""
    inc0 = _mk_clean(0, 10) + [
        (100, SHARED_EXACT, "en", "web", 1),
        (300, f"{SHARED_NEAR} one", "en", "web", 1),
    ]
    inc1 = _mk_clean(1000, 10) + [(1100, SHARED_EXACT, "en", "web", 1)]
    inc2 = _mk_clean(2000, 10) + [
        (2300, f"{SHARED_NEAR} two", "en", "web", 1)
    ]
    release = str(tmp_path / "rel")
    sig = str(tmp_path / "sig")
    incs = write_release(spark, release, [(0, inc0), (1, inc1), (2, inc2)])
    pairs = funnel.release_neardup_reconcile(
        spark, incs, release, sig
    ).localCheckpoint(eager=True)
    named = {(r["batch_b"], r["doc_b"]) for r in pairs.collect()}
    assert (1, 1100) in named and (2, 2300) in named
    assert len({b for b, _ in named}) >= 2  # genuinely multi-batch
    led = {
        r["batch"]: r
        for r in funnel.release_retraction_apply(
            spark, pairs, release, sig_path=sig
        ).collect()
    }
    post = {
        (r["batch"], r["doc_id"])
        for r in spark.read.parquet(release)
        .select("batch", "doc_id")
        .collect()
    }
    assert not (named & post)
    assert led[0]["n_retracted"] == 0
    by_b = {}
    for b, _ in named:
        by_b[b] = by_b.get(b, 0) + 1
    for b, k in by_b.items():
        assert led[b]["n_retracted"] == k
        assert led[b]["n_docs_after"] == led[b]["n_docs_before"] - k


def test_retraction_is_keyed_per_batch(spark, tmp_path):
    """The retraction key is (batch, doc_id): a doc sharing its id
    with a retracted doc in ANOTHER batch must survive."""
    rows = _mk_clean(0, 10)
    release = str(tmp_path / "rel")
    # the SAME docs written as two batches: every doc_id exists in both
    write_release(spark, release, [(0, rows), (1, rows)])
    victim = int(
        spark.read.parquet(f"{release}/batch=1").limit(1).collect()[0][
            "doc_id"
        ]
    )
    pairs = spark.createDataFrame(
        [(0, -1, 1, victim, 4, True)],
        PAIRS_SCHEMA,
    )
    led = {
        r["batch"]: r
        for r in funnel.release_retraction_apply(
            spark, pairs, release, sig_path=None
        ).collect()
    }
    assert led[1]["n_retracted"] == 1 and led[0]["n_retracted"] == 0
    back = spark.read.parquet(release).filter(
        F.col("doc_id") == victim
    )
    assert {r["batch"] for r in back.collect()} == {0}


def test_retraction_full_release_byte_equals_fresh_build(
    spark, tmp_path
):
    """The strongest write-discipline pin: after retracting a set
    scattered across many shards, EVERY shard directory of the
    release is byte-identical to a from-scratch
    write_assigned_shards of the surviving rows — rewritten shards
    because the sink reuses the sink's deterministic layout,
    untouched shards because they were never opened."""
    rows = _mk_clean(0, 60)
    d = spark.createDataFrame(rows, DOCS_SCHEMA)
    asg = funnel.release_assignments(d).localCheckpoint(eager=True)
    release = str(tmp_path / "rel")
    write_assigned_shards(
        asg, f"{release}/batch=0", funnel.RELEASE_N_SHARDS,
        order_cols=("source", "seq_id", "doc_id"),
    )
    # every 5th released doc, hitting several shards
    victims = [
        int(r["doc_id"])
        for r in asg.orderBy("doc_id").collect()[::5]
    ]
    pairs = spark.createDataFrame(
        [(0, -1 - i, 0, v, 4, True) for i, v in enumerate(victims)],
        PAIRS_SCHEMA,
    )
    funnel.release_retraction_apply(spark, pairs, release, sig_path=None).collect()
    fresh = str(tmp_path / "fresh")
    write_assigned_shards(
        asg.filter(~F.col("doc_id").isin(victims)),
        f"{fresh}/batch=0",
        funnel.RELEASE_N_SHARDS,
        order_cols=("source", "seq_id", "doc_id"),
    )
    got = sorted(
        os.path.basename(p)
        for p in glob.glob(f"{release}/batch=0/shard=*")
    )
    want = sorted(
        os.path.basename(p)
        for p in glob.glob(f"{fresh}/batch=0/shard=*")
    )
    assert got == want  # same shard-directory set (none lost/extra)
    for s in got:
        assert _shard_bytes(f"{release}/batch=0/{s}") == _shard_bytes(
            f"{fresh}/batch=0/{s}"
        ), f"{s} differs from a fresh build of the survivors"
