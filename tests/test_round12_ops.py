"""Round-12 operator contracts: release_neardup_reconcile (the
cross-increment near-dup reconciliation the incremental release's
scoping contract deferred) and classifier_apply_trained (deploying
the trained classifier against the hand-set gate)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from iceberg_diag_spark.operators import funnel
from iceberg_diag_spark.operators.textops import classifier_apply_trained

from helpers import (
    DOCS_SCHEMA,
    SHARED_EXACT,
    SHARED_LATE,
    SHARED_NEAR,
    _mk_clean,
    write_release,
)

SF_DIR = "/root/testdata/sf0.001"

@pytest.fixture(scope="module")
def reconciled(spark):
    """Three increments with duplicates deliberately split across
    them: a near-dup pair (0, 1), an exact pair (0, 1), and an exact
    pair (0, 2) — none visible to any single increment's funnel."""
    inc0 = _mk_clean(0, 24) + [
        (100, f"{SHARED_NEAR} alpha", "en", "web", 1),
        (200, f"{SHARED_EXACT}", "en", "web", 1),
        (300, f"{SHARED_LATE}", "en", "web", 1),
    ]
    inc1 = _mk_clean(1000, 20) + [
        (1100, f"{SHARED_NEAR} omega", "en", "web", 1),
        (1200, f"{SHARED_EXACT}", "en", "web", 1),
    ]
    inc2 = _mk_clean(2000, 16) + [
        (2300, f"{SHARED_LATE}", "en", "web", 1),
    ]
    release = tempfile.mkdtemp(prefix="reconcile_test_release_")
    sig = tempfile.mkdtemp(prefix="reconcile_test_sig_")
    try:
        incs = write_release(spark, release, [
            (b, [(i, t, lg, s, len(t)) for i, t, lg, s, _ in rows])
            for b, rows in enumerate((inc0, inc1, inc2))
        ])
        released = {
            (r.batch, r.doc_id)
            for r in spark.read.parquet(release)
            .select("batch", "doc_id")
            .collect()
        }
        # every planted doc must have survived its increment's funnel
        for key in [(0, 100), (0, 200), (0, 300), (1, 1100), (1, 1200), (2, 2300)]:
            assert key in released, f"planted doc {key} not released"
        out = funnel.release_neardup_reconcile(spark, incs, release, sig)
        rows1 = sorted(tuple(r) for r in out.collect())
        # replay the whole job (failure -> restart): the signature
        # store's idempotent batch=<id> overwrite must leave the
        # result identical
        out2 = funnel.release_neardup_reconcile(spark, incs, release, sig)
        rows2 = sorted(tuple(r) for r in out2.collect())
        yield rows1, rows2
    finally:
        shutil.rmtree(release, ignore_errors=True)
        shutil.rmtree(sig, ignore_errors=True)


def test_reconcile_catches_split_pairs(reconciled):
    rows, _ = reconciled
    by_pair = {
        (ba, da, bb, db): (nb, ex) for ba, da, bb, db, nb, ex in rows
    }
    # near-dup split across increments 0/1: caught, not exact
    nb, ex = by_pair[(0, 100, 1, 1100)]
    assert nb >= 1 and ex is False
    # exact dup split across 0/1: all bands collide, flagged exact
    nb, ex = by_pair[(0, 200, 1, 1200)]
    assert nb == 4 and ex is True
    # exact dup split across 0/2: increment 2 probes the ACCUMULATED
    # store, not just the previous increment
    nb, ex = by_pair[(0, 300, 2, 2300)]
    assert nb == 4 and ex is True
    # no within-increment pairs and no inverted batch order
    assert all(ba < bb for ba, _, bb, _, _, _ in rows)


def test_reconcile_replay_idempotent(reconciled):
    rows1, rows2 = reconciled
    assert rows1 == rows2


def test_reconcile_rejects_unordered_increments(spark):
    d = spark.createDataFrame(_mk_clean(0, 3), DOCS_SCHEMA)
    with pytest.raises(ValueError, match="ascending"):
        funnel.release_neardup_reconcile(
            spark, [(1, d), (0, d)], "/nonexistent", "/nonexistent"
        )


def test_reconcile_single_increment_empty(spark, tmp_path):
    release = str(tmp_path / "rel")
    sig = str(tmp_path / "sig")
    os.makedirs(sig)
    incs = write_release(spark, release, [(0, _mk_clean(0, 8))])
    out = funnel.release_neardup_reconcile(spark, incs, release, sig)
    assert out.count() == 0
    assert out.columns == [
        "batch_a", "doc_a", "batch_b", "doc_b", "n_shared_bands",
        "exact_dup",
    ]
    # the single increment's signatures still landed (the store the
    # NEXT increment will probe)
    assert spark.read.parquet(sig).count() > 0


# ------------------------------------------------------------------
# classifier_apply_trained
# ------------------------------------------------------------------


@pytest.fixture(scope="module")
def applied(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return classifier_apply_trained(docs).collect()


def test_apply_trained_count_invariants(applied):
    assert len(applied) > 0
    for r in applied:
        assert 0 <= r.n_keep_trained <= r.n_docs
        assert 0 <= r.n_keep_handset <= r.n_docs
        # flips reconcile the two keep counts exactly
        assert (
            r.n_keep_trained - r.n_keep_handset
            == r.n_flip_to_keep - r.n_flip_to_drop
        )
        assert r.n_flip_to_keep + r.n_flip_to_drop <= r.n_docs
        assert 0 <= r.n_agree_trained <= r.n_docs
        assert 0 <= r.n_agree_handset <= r.n_docs


def test_apply_trained_beats_handset_on_gate(applied):
    # the relation-level version of
    # test_trained_weights_beat_handset_auc: the trained rule agrees
    # with the curation gate more often than the hand-set rule does,
    # corpus-wide
    agree_t = sum(r.n_agree_trained for r in applied)
    agree_h = sum(r.n_agree_handset for r in applied)
    assert agree_t > agree_h


def test_train_lr_oracle_untouched_by_carry_refactor():
    # the carry/final refactor must leave classifier_train_lr's
    # oracle byte-free of deployment columns (the value-invariance
    # claim): carry-off SQL mentions neither the hand-set rule nor the
    # source label
    from iceberg_diag_spark.plans.oracles_dedup import _TRAIN_LR_SQL

    assert " kh" not in _TRAIN_LR_SQL
    assert "source" not in _TRAIN_LR_SQL
    assert _TRAIN_LR_SQL.rstrip().endswith("ORDER BY step")


def test_reconcile_probe_plan_hint_free(spark, tmp_path):
    """The registry entry returns an eager checkpoint, so the global
    scale-killer sweep can't see the probe's joins — pin them here on
    the LAZY relation: the store probe and the released-ids semi-join
    must carry no forced-broadcast hints (survivor id sets and
    signature stores are corpus-scale; Catalyst stats decide), no
    Python, and no cartesian product."""
    release = str(tmp_path / "rel")
    sig = str(tmp_path / "sig")
    os.makedirs(sig)
    incs = write_release(
        spark, release, [(0, _mk_clean(0, 8)), (1, _mk_clean(1000, 8))]
    )
    out = funnel.release_neardup_reconcile(spark, incs, release, sig)
    assert "ResolvedHint" not in out._jdf.queryExecution().logical().toString()
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_minhash_pairs_sql_untouched_by_fragment_extraction():
    # _SIG_KEYS_CTES extraction must recompose _MINHASH_PAIRS_SQL
    # byte-identically — the fragment exists so the reconcile oracle
    # and the pair oracle share ONE hash-family definition
    from iceberg_diag_spark.plans.oracles_dedup import (
        _MINHASH_PAIRS_SQL,
        _SIG_KEYS_CTES,
    )

    assert _SIG_KEYS_CTES in _MINHASH_PAIRS_SQL
    assert _MINHASH_PAIRS_SQL.count("4294967296") == 1


def test_reconcile_survives_all_dropped_increment(spark, tmp_path):
    """An increment whose funnel dropped EVERY doc (all-junk batch)
    leaves a fileless batch=<id> release/signature directory — the
    reconcile must emit zero pairs for it and keep every other
    increment's candidates, not abort on schema inference."""
    release = str(tmp_path / "rel")
    sig = str(tmp_path / "sig")
    os.makedirs(sig)
    good0 = _mk_clean(0, 8) + [(200, f"{SHARED_EXACT}", "en", "web", 99)]
    # increment 1: junk that fails the quality gate (no stopwords,
    # symbol soup) -> zero released docs -> fileless batch dir
    junk1 = [
        (1000 + i, "@@@ %% ## !! " * 10, "en", "web", 120)
        for i in range(5)
    ]
    good2 = _mk_clean(2000, 8) + [
        (2200, f"{SHARED_EXACT}", "en", "web", 99)
    ]
    incs = write_release(spark, release, [(0, good0), (1, junk1), (2, good2)])
    assert (
        spark.read.schema("doc_id long")
        .parquet(f"{release}/batch=1")
        .count()
        == 0
    )
    rows = sorted(
        tuple(r)
        for r in funnel.release_neardup_reconcile(
            spark, incs, release, sig
        ).collect()
    )
    pairs = {(ba, da, bb, db) for ba, da, bb, db, _, _ in rows}
    # the split exact pair spanning the two GOOD increments is still
    # caught; the junk increment contributes nothing
    assert (0, 200, 2, 2200) in pairs
    assert all(ba != 1 and bb != 1 for ba, _, bb, _ in pairs)


def test_reconcile_accepts_int_doc_ids(spark, tmp_path):
    """A caller whose docs carry IntegerType doc_id must reconcile
    cleanly: the signature write casts to long so the written files
    always match the fixed read schema (int32 parquet under a
    declared-long read schema is a mid-job crash otherwise)."""
    release = str(tmp_path / "rel")
    sig = str(tmp_path / "sig")
    os.makedirs(sig)
    schema_int = (
        "doc_id int, text string, lang string, source string, "
        "n_chars long"
    )
    incs = write_release(
        spark,
        release,
        [
            (b, _mk_clean(i0, 8)
             + [(i0 + 500, f"{SHARED_EXACT}", "en", "web", 99)])
            for b, i0 in ((0, 0), (1, 1000))
        ],
        schema=schema_int,
    )
    rows = funnel.release_neardup_reconcile(
        spark, incs, release, sig
    ).collect()
    assert any(
        r.doc_a == 500 and r.doc_b == 1500 and r.exact_dup for r in rows
    )
