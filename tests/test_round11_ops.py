"""Round-11 operator contracts: classifier_train_lr (LR training
closes the score/evaluate/train classifier loop), the IVF index-build
sink, and the incremental-release streaming twin."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from iceberg_diag_spark.operators.textops import (
    LR_WEIGHT_COLS,
    _lr_standardized,
    _scored_vs_gate,
    classifier_train_lr,
    exact_auc,
)

from helpers import DOCS_SCHEMA, write_one_file, write_release

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _auc_ppm(df):
    return df.collect()[0].auc_ppm


def test_train_lr_trajectory_shape(spark, docs):
    traj = classifier_train_lr(docs, k_steps=3).collect()
    assert [r.step for r in traj] == [0, 1, 2, 3]
    # step 0 is the zero init; step 1 must move every weight the
    # gradient touches (the bias always moves unless classes balance
    # to the floor exactly — assert at least one weight moved)
    assert all(traj[0][c] == 0 for c in LR_WEIGHT_COLS)
    assert any(traj[1][c] != 0 for c in LR_WEIGHT_COLS)


def test_trained_weights_beat_handset_auc(spark, docs):
    """Acceptance: 12 GD steps must RANK the
    curation gate better than the hand-set CLASSIFIER_WEIGHTS do,
    measured by the same exact tie-corrected AUC operator the engine
    ships (classifier_auc_calibration's core)."""
    final = classifier_train_lr(docs).orderBy(F.desc("step")).first()
    w = [final[c] for c in LR_WEIGHT_COLS]

    feat = _lr_standardized(docs, "text")
    fcols = ["x0"] + [f"sx{j}" for j in range(1, 6)]
    zsum = " + ".join(
        f"CAST({wj} AS DECIMAL(38,0)) * {x}" for wj, x in zip(w, fcols)
    )
    scored_trained = feat.select(
        F.expr(
            f"CAST(CASE WHEN ({zsum}) < 0"
            f" THEN -((-({zsum})) DIV 1000000)"
            f" ELSE ({zsum}) DIV 1000000 END AS BIGINT)"
        ).alias("score"),
        "y",
    )
    auc_trained = _auc_ppm(exact_auc(scored_trained, "score", "y"))
    auc_hand = _auc_ppm(
        exact_auc(_scored_vs_gate(docs, "text"), "z_micro", "y")
    )
    assert auc_trained is not None and auc_hand is not None
    assert auc_trained > auc_hand, (auc_trained, auc_hand)
    # and not by luck: the measured gap at sf0.001 is ~5 AUC points
    # (916504 -> 965027 ppm); pin a conservative floor
    assert auc_trained >= auc_hand + 20_000, (auc_trained, auc_hand)


def test_train_lr_deterministic(spark, docs):
    a = classifier_train_lr(docs, k_steps=2).collect()
    b = classifier_train_lr(docs, k_steps=2).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


# ---------------------------------------------------------------
# IVF index build sink (advisor-executing pattern #6)
# ---------------------------------------------------------------

@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def built_index(spark, emb, tmp_path_factory):
    from iceberg_diag_spark.operators import similarity as sim

    path = str(tmp_path_factory.mktemp("ivf_index"))
    manifest = sim.ivf_build_index(emb, path).localCheckpoint()
    return path, manifest


def test_ivf_probe_reproduces_topk_exact(spark, emb, built_index):
    """Acceptance: a consumer-side probe of the
    WRITTEN index must reproduce ivf_topk_exact's top-k bit for bit —
    same candidates, same ranks, same cosines."""
    from iceberg_diag_spark.operators import similarity as sim

    path, _ = built_index
    probe = sorted(
        tuple(r) for r in sim.ivf_probe_index(spark, path, emb).collect()
    )
    ref = sorted(tuple(r) for r in sim.ivf_topk_exact(emb).collect())
    assert probe == ref and len(probe) > 0


def test_ivf_manifest_matches_plan_side_and_accounts_all_vectors(
    spark, emb, built_index
):
    from iceberg_diag_spark.operators import similarity as sim

    _, manifest = built_index
    file_m = sorted(tuple(r) for r in manifest.collect())
    plan_m = sorted(
        tuple(r)
        for r in sim._ivf_manifest_agg(
            sim.ivf_index_assignments(emb)
        ).collect()
    )
    assert file_m == plan_m
    assert sum(r[1] for r in file_m) == emb.count()  # no dropped rows


def test_ivf_verify_detects_tampering(spark, emb, built_index, tmp_path):
    """verify_ivf_index over the intact index is all-ok; delivering a
    TAMPERED copy (one cell's rows dropped) must flag exactly the
    tampered cell; a cell lost entirely reads not-ok with NULL
    actuals, and a cell the manifest never named not-ok with NULL
    expectations."""
    from pyspark.sql import functions as F

    from iceberg_diag_spark.operators import similarity as sim

    path, manifest = built_index
    ver = sim.verify_ivf_index(spark, path, manifest).collect()
    assert ver and all(r.ok for r in ver)

    rows = spark.read.parquet(path)
    victim = manifest.orderBy("list_id").first().list_id
    tampered = rows.filter(
        ~((F.col("list_id") == victim) & (F.col("vec_id") % 2 == 0))
    )
    tpath = str(tmp_path / "tampered")
    tampered.write.mode("overwrite").partitionBy("list_id").parquet(tpath)
    bad = {
        r.list_id: r.ok
        for r in sim.verify_ivf_index(spark, tpath, manifest).collect()
    }
    assert bad[victim] is False
    assert all(ok for lid, ok in bad.items() if lid != victim)

    # a cell lost entirely, and a cell the manifest never named
    foreign = 1000 + victim
    moved = rows.withColumn(
        "list_id",
        F.when(F.col("list_id") == victim, F.lit(foreign)).otherwise(
            F.col("list_id")
        ),
    )
    mpath = str(tmp_path / "moved")
    moved.write.mode("overwrite").partitionBy("list_id").parquet(mpath)
    res = {
        r.list_id: r
        for r in sim.verify_ivf_index(spark, mpath, manifest).collect()
    }
    assert res[victim].ok is False and res[victim].n_vecs_expected > 0
    assert res[victim].n_vecs_actual is None
    assert res[foreign].ok is False
    assert res[foreign].n_vecs_actual == res[victim].n_vecs_expected
    assert res[foreign].n_vecs_expected is None
    assert all(r.ok for lid, r in res.items() if lid not in (victim, foreign))


# ---------------------------------------------------------------
# Streaming twin #22: incremental corpus release
# ---------------------------------------------------------------

def _mk_docs(i0: int, n: int, source: str):
    # clean English docs that pass the funnel's stage-1 gate, each
    # with a distinct tail so exact dedup keeps them all
    rows = []
    for i in range(i0, i0 + n):
        t = (
            "the quick brown fox jumps over a lazy dog and it is "
            f"known that document number {i} differs in this tail"
        )
        rows.append((i, t, "en", source, len(t)))
    return rows


def test_stream_release_multi_batch_and_replay(spark, tmp_path_factory):
    """Two files drained one-per-trigger = two increments: the
    accumulated manifest must account for BOTH increments' survivors
    (union of two per-increment batch releases), and a REPLAYED
    increment (failure → restart re-runs the same batch id) must
    leave the manifest bit-identical — the idempotent overwrite is
    what makes the sink exactly-once."""
    import tempfile

    from iceberg_diag_spark.operators import funnel
    from iceberg_diag_spark.streaming import stream_ops as so

    root = str(tmp_path_factory.mktemp("release_stream"))
    base = os.path.join(root, "docs")
    os.makedirs(base)

    r1 = _mk_docs(0, 30, "web")
    r2 = _mk_docs(1000, 20, "books")
    write_one_file(spark.createDataFrame(r1, DOCS_SCHEMA), base, "f1.parquet")
    write_one_file(spark.createDataFrame(r2, DOCS_SCHEMA), base, "f2.parquet")

    schema = spark.read.parquet(base).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
    )
    release = tempfile.mkdtemp(prefix="release_stream_test_")
    try:
        q = so.corpus_release_stream(stream, release)
        assert q.awaitTermination(240)
        q.stop()
        batches = sorted(
            d for d in os.listdir(release) if d.startswith("batch=")
        )
        assert len(batches) == 2
        manifest0 = sorted(
            tuple(r)
            for r in so.release_manifest_from_stream(spark, release).collect()
        )
        # accumulated docs = union of the two per-increment releases
        n_docs = sum(r[1] for r in manifest0)
        per_batch = [
            funnel.release_assignments(
                spark.createDataFrame(rows, DOCS_SCHEMA)
            ).count()
            for rows in (r1, r2)
        ]
        assert n_docs == sum(per_batch) and n_docs > 0

        # replay increment 0 (what a checkpoint restart does): rewrite
        # the SAME batch dir with the same writer logic
        replay_id = int(batches[0].split("=")[1])
        write_release(spark, release, [(replay_id, r1)])
        manifest1 = sorted(
            tuple(r)
            for r in so.release_manifest_from_stream(spark, release).collect()
        )
        assert manifest1 == manifest0
    finally:
        shutil.rmtree(release, ignore_errors=True)


# ---------------------------------------------------------------
# unigram_lm_encode (trainer-executing pattern #7)
# ---------------------------------------------------------------

def test_unigram_encode_coverage_and_conservation(spark, docs):
    """Every encodable word segments (single-char pieces are never
    pruned — Kudo's coverage guarantee), so per source: pieces >=
    words (fertility >= 1e6), chars >= pieces (a piece is >= 1 char),
    and the word/char masses must equal a direct count over the same
    filtered token stream (nothing dropped or double-counted by the
    vocabulary join)."""
    from pyspark.sql import functions as F

    from iceberg_diag_spark.operators.textops import (
        tokens,
        unigram_lm_encode,
    )

    out = {r.source: r for r in unigram_lm_encode(docs).collect()}
    assert out
    for r in out.values():
        assert r.n_pieces >= r.n_words > 0
        assert r.n_chars >= r.n_pieces
        assert r.fertility_ppm >= 1_000_000
        assert r.chars_per_piece_ppm >= 1_000_000
    direct = {
        r.source: r
        for r in (
            docs.select(
                "source", F.explode(tokens(F.col("text"))).alias("w")
            )
            .filter((F.col("w") != "") & (F.length("w") <= 24))
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_words"),
                F.sum(F.length("w")).alias("n_chars"),
            )
            .collect()
        )
    }
    assert set(direct) == set(out)
    for s, d in direct.items():
        assert (out[s].n_words, out[s].n_chars) == (d.n_words, d.n_chars)


def test_unigram_encode_planted_fixture(spark):
    """A corpus dominated by one repeated word: the trainer seeds
    that word (<=4 chars) as a multi-char piece, so the dominant word
    must encode as ONE piece while a rare unseen-structure word falls
    back to finer pieces — trained fertility on the dominant source
    beats character-level (= word length)."""
    rows = [(i, "abab " * 20, "en", "heavy", 100) for i in range(30)]
    rows += [(100 + i, "zq xv jk", "en", "rare", 8) for i in range(2)]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {
        r.source: r
        for r in __import__(
            "iceberg_diag_spark.operators.textops", fromlist=["x"]
        ).unigram_lm_encode(docs).collect()
    }
    # 'abab' (len 4) is the corpus-dominant substring -> seeded as a
    # piece -> the heavy source encodes 1 piece/word
    assert out["heavy"].fertility_ppm == 1_000_000
    assert out["heavy"].chars_per_piece_ppm == 4_000_000
    # the rare 2-char words still encode (coverage), at >= 1 piece
    assert out["rare"].n_words == 6 and out["rare"].n_pieces >= 6


def test_stream_release_single_drain_equals_batch_manifest(spark, docs):
    """The shared-oracle contract: one availableNow increment over
    the full corpus equals the batch corpus_release_manifest."""
    from iceberg_diag_spark.operators import funnel
    from iceberg_diag_spark.streaming import stream_ops as so

    got = sorted(
        tuple(r)
        for r in so.run_corpus_release_stream(spark, SF_DIR).collect()
    )
    want = sorted(
        tuple(r) for r in funnel.corpus_release_manifest(docs).collect()
    )
    assert got == want and len(got) > 0
