"""Round-15 optimization equivalence pins: every rewrite in this
round must keep results bit-identical, and these tests pin the two
equivalences the funnel fusion (change set 2) relies on:

1. the s1 language gate — `arrays_overlap(tokens, ALL_STOPWORDS)`
   is exactly `language_best(text)["hits"] > 0` (the struct-argmax
   form it replaced, which defeated codegen subexpression
   elimination on the shared token split);
2. the fused exact-dup mark relation — stage_flags' in-window
   `min(id) over (partition by content_hash)` produces the same
   (id, __keep) mapping as `content_rep_marks`, so passing it into
   `minhash_candidate_pairs(marked=...)` yields the identical
   candidate-pair relation while skipping a full corpus scan.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from iceberg_diag_spark.operators import dedup, textops
from iceberg_diag_spark.sources.tpch import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_s1_language_gate_equivalence(spark):
    """any-stopword-overlap ⟺ best-language-hits>0, row for row."""
    docs = load_table(spark, SF_DIR, "documents")
    best = textops.language_best("text")
    mismatch = (
        docs.select(
            (best["hits"] > 0).alias("old_gate"),
            F.arrays_overlap(
                textops.tokens(F.col("text")),
                F.array(*[F.lit(w) for w in textops.ALL_STOPWORDS]),
            ).alias("new_gate"),
        )
        .filter(F.col("old_gate") != F.col("new_gate"))
        .count()
    )
    assert mismatch == 0
    # the gate is non-trivial on the fixture (both outcomes occur)
    hits = docs.filter(
        F.arrays_overlap(
            textops.tokens(F.col("text")),
            F.array(*[F.lit(w) for w in textops.ALL_STOPWORDS]),
        )
    ).count()
    assert 0 < hits < docs.count()


def test_fused_marks_match_content_rep_marks(spark):
    """stage_flags' fused (id, __keep) mark relation == the
    content_rep_marks relation it replaced. The fixtures carry no
    byte-identical documents, so inject exact copies (every 3rd doc
    re-id'd above the max id) to exercise real dup groups."""
    base = load_table(spark, SF_DIR, "documents")
    max_id = base.agg(F.max("doc_id")).collect()[0][0]
    copies = base.filter(F.col("doc_id") % 3 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(max_id + 1)
    )
    docs = base.unionByName(copies)
    w_ch = Window.partitionBy("__ch")
    fused = (
        docs.select(
            "doc_id",
            F.sha2(
                dedup.normalized_text(F.col("text")), 256
            ).alias("__ch"),
        )
        .select("doc_id", F.min("doc_id").over(w_ch).alias("__keep"))
    )
    expect = {
        (r["doc_id"], r["__keep"])
        for r in dedup.content_rep_marks(docs).select(
            "doc_id", "__keep"
        ).collect()
    }
    got = {(r["doc_id"], r["__keep"]) for r in fused.collect()}
    assert got == expect
    assert any(a != b for a, b in expect)  # real dup groups exist


def test_candidate_pairs_with_shared_marks_identical(spark):
    """minhash_candidate_pairs(marked=<caller relation>) returns the
    exact pair set of the self-derived default."""
    docs = load_table(spark, SF_DIR, "documents")
    marks = dedup.content_rep_marks(docs).select("doc_id", "__keep")
    base = {
        (r.doc_a, r.doc_b, r.n_shared_bands)
        for r in dedup.minhash_candidate_pairs(docs).collect()
    }
    shared = {
        (r.doc_a, r.doc_b, r.n_shared_bands)
        for r in dedup.minhash_candidate_pairs(
            docs, marked=marks
        ).collect()
    }
    assert shared == base
    assert base  # non-trivial fixture


def test_stage_flags_fused_wide_feeds_identical_pairs(spark):
    """The funnel's fused-checkpoint band signatures produce the same
    stage-3 collapse as a from-first-principles rebuild: CC over the
    self-derived candidate pairs restricted to stage-2 survivors.
    (The DuckDB oracle pins the full funnel output; this pins the
    fused `wide` hand-off specifically, at the flag level.)"""
    from iceberg_diag_spark.operators import funnel

    docs = load_table(spark, SF_DIR, "documents")
    flags = {
        r.doc_id: (r.s1, r.s2, r.s3, r.s4)
        for r in funnel.stage_flags(docs).collect()
    }
    assert flags
    # first-principles stage-3: pairs from the PLAIN two-pass banding
    # chain (no shared wide/marks), filtered to stage-2 survivors,
    # collapsed by connected components to component minima
    s2 = {d for d, (s1, s2_, s3, s4) in flags.items() if s2_}
    pairs = [
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_candidate_pairs(docs).collect()
        if r.doc_a in s2 and r.doc_b in s2
    ]
    # union-find over the surviving pairs
    parent = {d: d for d in s2}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min = {}
    for d in s2:
        r = find(d)
        comp_min.setdefault(r, d)
        comp_min[r] = min(comp_min[r], d)
    expected_s3 = {d for d in s2 if comp_min[find(d)] == d}
    got_s3 = {d for d, (s1, s2_, s3, s4) in flags.items() if s3}
    assert got_s3 == expected_s3
    assert pairs  # the fixture exercises real near-dup pairs
