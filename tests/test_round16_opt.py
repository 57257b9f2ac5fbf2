"""Signature-pass equivalence pins.

1. the one per-document signature pass (content hash + wide MinHash
   signature + SimHash fingerprint) — `dedup._doc_signatures` —
   matches the plain pipelines exactly for every doc shape (empty,
   sub-shingle, NULL text included) in every mode its callers use,
   so every dedup tier and the corpus funnel can derive their
   per-doc state from ONE corpus text scan;
2. simhash_near_dup's fused standalone path emits the identical pair
   set to the explicit marked=/fingerprints= construction that
   replicates the old two-scan path.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iceberg_diag_spark.operators import dedup
from iceberg_diag_spark.sources.tpch import load_table

SF_DIR = "/root/testdata/sf0.001"


def _docs_with_edges(spark):
    docs = load_table(spark, SF_DIR, "documents")
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    edges = spark.createDataFrame(
        [
            (max_id + 1, ""),
            (max_id + 2, "two tokens"),
            (max_id + 3, None),
            (max_id + 4, "   "),
        ],
        "doc_id long, text string",
    )
    return docs.select("doc_id", "text").unionByName(edges), max_id


# the modes the signature pass's callers use: banding/incremental
# dedup (minhash), standalone simhash_near_dup (votes),
# dedup_method_agreement (both), the corpus funnel (minhash + keys)
SIG_MODES = {
    "minhash": dict(minhash=True, votes=False, key=False),
    "votes": dict(minhash=False, votes=True, key=False),
    "both": dict(minhash=True, votes=True, key=False),
    "minhash_key": dict(minhash=True, votes=False, key=True),
}


@pytest.mark.parametrize("mode", list(SIG_MODES))
def test_doc_signatures_match_plain_pipelines(spark, mode):
    """__ch / h* / simhash from the one signature pass equal the sha2
    projection, minhash_signatures_wide and simhash64 outputs doc for
    doc, for every doc shape (empty, whitespace-only, sub-shingle and
    NULL text included): h* is NULL exactly for the gramless docs the
    plain signature pipeline never emits, simhash NULL exactly for
    the NULL-text doc simhash64 never emits. An extra key passes
    through unchanged and groups stay one per doc."""
    m = SIG_MODES[mode]
    all_docs, max_id = _docs_with_edges(spark)
    keys = [F.length("text").alias("n_chars")] if m["key"] else []
    sigs = dedup._doc_signatures(
        all_docs, keys=keys, minhash=m["minhash"], votes=m["votes"]
    )
    hcols = [f"h{s}" for s in range(dedup.MINHASH_NUM_HASHES)]
    assert sigs.columns == [
        "doc_id",
        "__ch",
        *(["n_chars"] if m["key"] else []),
        *(hcols if m["minhash"] else []),
        *(["simhash"] if m["votes"] else []),
    ]
    rows = sigs.collect()

    expect = {
        r.doc_id: (r.ch, r.n_chars)
        for r in all_docs.select(
            "doc_id",
            F.sha2(dedup.normalized_text(F.col("text")), 256).alias("ch"),
            F.length("text").alias("n_chars"),
        ).collect()
    }
    # one group per doc, every doc present, hashes identical
    assert len(rows) == len(expect)
    assert {r["doc_id"]: r["__ch"] for r in rows} == {
        d: ch for d, (ch, _) in expect.items()
    }
    if m["key"]:
        assert {r["doc_id"]: r["n_chars"] for r in rows} == {
            d: n for d, (_, n) in expect.items()
        }

    edges = {max_id + k for k in range(1, 5)}
    if m["minhash"]:
        got_sig = {r["doc_id"]: tuple(r[h] for h in hcols) for r in rows}
        exp_sig = {
            r.doc_id: tuple(r[h] for h in hcols)
            for r in dedup.minhash_signatures_wide(all_docs).collect()
        }
        assert {
            d: sig for d, sig in got_sig.items() if sig[0] is not None
        } == exp_sig
        gramless = {d for d in got_sig if d not in exp_sig}
        assert all(
            got_sig[d] == (None,) * len(hcols) for d in gramless
        )
        assert edges <= gramless

    if m["votes"]:
        got_fp = {
            r["doc_id"]: r["simhash"]
            for r in rows
            if r["simhash"] is not None
        }
        exp_fp = {
            r.doc_id: r.simhash
            for r in dedup.simhash64(all_docs).collect()
        }
        assert got_fp == exp_fp
        # empty and whitespace-only docs DO carry a fingerprint
        # (split('') = ['']); only the NULL-text doc does not
        assert set(expect) - set(got_fp) == {max_id + 3}


def test_simhash_near_dup_fused_standalone_identical(spark):
    """The fused one-scan standalone path (marked/fingerprints
    self-derived from the signature pass) emits the identical pair set
    to the explicit two-scan construction it replaced."""
    all_docs, _ = _docs_with_edges(spark)
    fused_path = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.simhash_near_dup(all_docs, max_hamming=10).collect()
    }
    old_path = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.simhash_near_dup(
            all_docs,
            max_hamming=10,
            marked=dedup.content_rep_marks(all_docs),
            fingerprints=dedup.simhash64(all_docs),
        ).collect()
    }
    assert fused_path == old_path
    assert fused_path  # non-trivial fixture
