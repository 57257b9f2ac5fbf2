"""Opt-in scale-stress smoke (SPARK_GRAFT_STRESS=1): the dedup chain
on a 1M-doc expression-generated corpus with an adversarial exact-dup
hot spot — 100 templates × 1,000 copies each — the shape that used to
be the LSH n²-bucket pathology. Asserts exact duplicate accounting
and bounded candidate output at ~200× the bench corpus.

Generation is pure Spark expressions over spark.range (no Python, no
driver materialization), so the test exercises the operators' scale
posture rather than test-harness throughput.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_STRESS") != "1",
    reason="stress smoke only under SPARK_GRAFT_STRESS=1",
)

N_DOCS = 1_000_000
N_TEMPLATES = 100
N_COPIES = 1_000  # last 100k ids are template copies
VOCAB = [f"w{i:03d}" for i in range(512)]


def _tokens_of(base, vocab):
    # first 4 tokens are the base-512 digits of `base` (36 bits —
    # injective below 2^36, so distinct bases ⇒ distinct texts);
    # the rest are mixing tokens for realistic shingle variety.
    toks = [
        F.element_at(
            vocab,
            (F.shiftright(base, 9 * k) % len(VOCAB) + 1).cast("int"),
        )
        for k in range(4)
    ]
    # mixing tokens via a REAL hash (xxhash64), not linear
    # congruences — any linear scheme has lattice structure (ids in
    # arithmetic progression share every mixing token), which
    # silently turns the "unique" range into genuine near-dup
    # families. With proper hashing two distinct ids share a given
    # token with p = 1/512, so the corpus is near-dup-sparse outside
    # the constructed hot spot.
    toks += [
        F.element_at(
            vocab,
            (F.pmod(F.xxhash64(base, F.lit(k)), len(VOCAB)) + 1).cast("int"),
        )
        for k in range(4, 30)
    ]
    return F.concat_ws(" ", *toks)


def _corpus(spark):
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    i = F.col("id")
    # hot spot: ids >= N_DOCS - 100k all reuse one of 100 templates
    # (template t's text equals the unique text of id == t, so each
    # dup group is 1000 hot copies + that one original)
    dup_cut = N_DOCS - N_TEMPLATES * N_COPIES
    text = F.when(i < dup_cut, _tokens_of(i, vocab)).otherwise(
        _tokens_of((i % N_TEMPLATES).cast("long"), vocab)
    )
    return spark.range(0, N_DOCS, 1, 64).select(
        F.col("id").alias("doc_id"), text.alias("text")
    )


def test_exact_dedup_accounting_at_1m(spark):
    from iceberg_diag_spark.operators.dedup import exact_dedup_groups

    docs = _corpus(spark)
    t0 = time.time()
    groups = exact_dedup_groups(docs).filter(F.col("dup_count") >= 2)
    agg = groups.agg(
        F.count(F.lit(1)).alias("g"), F.sum("dup_count").alias("d")
    ).collect()[0]
    wall = time.time() - t0
    # each template: 1000 hot copies + its own id<dup_cut original
    assert agg["g"] == N_TEMPLATES
    assert agg["d"] == N_TEMPLATES * (N_COPIES + 1)
    print(f"exact_dedup_groups 1M docs: {wall:.1f}s")


def test_minhash_chain_bounded_at_1m(spark):
    from iceberg_diag_spark.operators.dedup import minhash_candidate_pairs

    docs = _corpus(spark)
    t0 = time.time()
    pairs = minhash_candidate_pairs(docs)
    n_star = pairs.filter(F.col("doc_a") < N_TEMPLATES).count()
    n_total = pairs.count()
    wall = time.time() - t0
    # the hot spot collapses to star edges: 1000 members per template
    # (the min-id representative is the template's own id < 100)
    assert n_star >= N_TEMPLATES * N_COPIES
    # and candidate volume stays linear-ish, nothing like the
    # ~5·10^10 pairs an uncollapsed hot bucket would expand to
    assert n_total < 5 * N_DOCS
    print(f"minhash_candidate_pairs 1M docs: {wall:.1f}s, {n_total} pairs")


def test_disorder_audit_shard_invariance_at_10m(spark):
    """The range-sharded running max must be invariant to the shard
    count — compare a 64-shard run against a 4-shard run on 10M
    events (different shard boundaries, same exact answer)."""
    from iceberg_diag_spark.operators.events import disorder_audit

    n = 10_000_000
    i = F.col("id")
    events = spark.range(0, n, 1, 64).select(
        i.alias("event_id"),
        F.timestamp_micros(
            (F.lit(1_700_000_000_000_000) + F.pmod(F.xxhash64(i), 86_400_000_000))
        ).alias("ts"),
        F.pmod(i, 1000).alias("user_id"),
        F.concat(F.lit("t"), F.pmod(F.xxhash64(i, F.lit(1)), 5).cast("string")).alias(
            "event_type"
        ),
    )
    t0 = time.time()
    a = {
        r["event_type"]: tuple(r)
        for r in disorder_audit(events, n_shards=64).collect()
    }
    wall = time.time() - t0
    b = {
        r["event_type"]: tuple(r)
        for r in disorder_audit(events, n_shards=4).collect()
    }
    assert a == b
    assert sum(r[1] for r in a.values()) == n
    print(f"disorder_audit 10M events (64 shards): {wall:.1f}s")


def test_grouped_prefix_sum_shard_invariance_at_10m(spark):
    """skip_simulation's rank core: exclusive prefix sums over 10M
    (group, key) rows must be identical for any shard count."""
    from iceberg_diag_spark.operators.shuffling import grouped_prefix_sum

    n = 10_000_000
    i = F.col("id")
    df = spark.range(0, n, 1, 64).select(
        F.concat(F.lit("g"), F.pmod(i, 4).cast("string")).alias("g"),
        i.alias("k"),
        (F.pmod(F.xxhash64(i), 100) + 1).alias("v"),
    )
    t0 = time.time()
    a = grouped_prefix_sum(df, ["g"], ["k"], ["v"], ["p"], n_shards=64)
    chk_a = a.agg(
        F.sum(F.col("p") * F.col("v")).alias("dot"), F.max("p").alias("mx")
    ).collect()[0]
    wall = time.time() - t0
    b = grouped_prefix_sum(df, ["g"], ["k"], ["v"], ["p"], n_shards=3)
    chk_b = b.agg(
        F.sum(F.col("p") * F.col("v")).alias("dot"), F.max("p").alias("mx")
    ).collect()[0]
    assert tuple(chk_a) == tuple(chk_b)
    print(f"grouped_prefix_sum 10M rows (64 shards): {wall:.1f}s")


def test_clustering_advisor_2m_files_per_column(spark):
    """Advisor sweep at metadata scale: 2M synthetic file bounds in
    one column group (the documented one-task-per-column contract) —
    must complete and match the closed-form expectation for
    disjoint-vs-nested layouts."""
    i = F.col("id")
    n = 2_000_000
    fs = spark.range(0, n, 1, 32).select(
        F.when(i % 2 == 0, "disjoint").otherwise("nested").alias("col_name"),
        (i / 2).cast("long").alias("file_id"),
        F.when(i % 2 == 0, (i / 2).cast("long") * 10)
        .otherwise((i / 2).cast("long"))
        .alias("lo"),
        F.when(i % 2 == 0, (i / 2).cast("long") * 10 + 5)
        .otherwise(F.lit(2 * n) - (i / 2).cast("long"))
        .alias("hi"),
    )
    from iceberg_diag_spark.operators.maintenance import clustering_advisor

    t0 = time.time()
    out = {r["col_name"]: r for r in clustering_advisor(fs).collect()}
    wall = time.time() - t0
    m = n // 2
    assert out["disjoint"]["overlap_pairs"] == 0
    assert out["disjoint"]["max_depth"] == 1
    # fully nested intervals: every pair overlaps
    assert out["nested"]["overlap_pairs"] == m * (m - 1) // 2
    assert out["nested"]["max_depth"] == m
    print(f"clustering_advisor 2x1M files: {wall:.1f}s")


def test_winnow_clone_pairs_bounded_at_1m(spark):
    """The 100×1000-copy hot spot is exactly the shape that would make
    clone-pair posting lists quadratic (each template fingerprint sits
    in ~1001 docs → ~500k pairs per fingerprint × fingerprints per
    doc). The max_docs_per_fp stop-list must drop those lists whole,
    leaving the near-dup-sparse unique range pairless — mirroring the
    near-dup family's exact-dup pre-collapse lesson: mass duplication
    is the exact tier's job, the pairwise tier handles the tail."""
    import time as _time

    from iceberg_diag_spark.operators.dedup import winnow_clone_pairs

    docs = _corpus(spark)
    t0 = _time.time()
    n_pairs = winnow_clone_pairs(docs).count()
    dt = _time.time() - t0
    # template fps: ~1001 docs each > cap 64 → dropped whole. If the
    # cap failed, the hot spot alone yields ~100·C(1001,2) ≈ 5×10⁷
    # pairs; what's left is the birthday-collision tail of the
    # 512-token vocab (measured ~2×10² at 1M docs) — bounded, sparse.
    assert n_pairs < 100_000, n_pairs
    print(f"winnow_clone_pairs @1M: {dt:.1f}s, pairs={n_pairs}")


def test_bm25_bounded_at_1m(spark):
    """BM25 over the 1M-doc corpus: two corpus passes (length pass
    without explode + term-filtered tf pass) and a top-k — no
    corpus-sized sort, no skew on the 9-term tf key beyond the term
    frequencies themselves."""
    from iceberg_diag_spark.operators.textops import bm25_topk

    docs = _corpus(spark)
    t0 = time.time()
    rows = bm25_topk(
        docs, query_terms=(VOCAB[0], VOCAB[1], VOCAB[2]), k=50
    ).collect()
    wall = time.time() - t0
    assert len(rows) == 50
    # scores are sorted descending with doc_id tie-break
    scores = [r["bm25_micro"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    print(f"bm25_topk @1M: {wall:.1f}s")


def test_pmi_bounded_at_1m(spark):
    """PMI over the 1M-doc corpus: the checkpointed pair-count
    relation is vocab²-bounded (≤ 512² = 262k rows regardless of
    corpus size) — the single corpus pass dominates, everything
    after it is metadata-scale."""
    from iceberg_diag_spark.operators.textops import pmi_collocations

    docs = _corpus(spark)
    t0 = time.time()
    rows = pmi_collocations(docs, min_count=5, top_n=100).collect()
    wall = time.time() - t0
    assert len(rows) == 100
    assert all(r["n_pair"] >= 5 for r in rows)
    print(f"pmi_collocations @1M: {wall:.1f}s")


def test_exact_quota_holdout_bounded_at_1m(spark):
    """Largest-remainder holdout at 1M rows: the apportionment acts
    on the stratum relation (tiny) and membership ranks in
    (stratum, md5-digit shard) windows + broadcast offsets (the r7
    range-shard fix — no whole-stratum task) — and the total is
    EXACT at any scale."""
    from pyspark.sql import functions as F

    from iceberg_diag_spark.operators.sampling import exact_quota_holdout

    docs = spark.range(0, N_DOCS, 1, 64).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 17).cast("string")).alias(
            "source"
        ),
    )
    t0 = time.time()
    got = exact_quota_holdout(docs, holdout_ppm=100_000).count()
    wall = time.time() - t0
    assert got == (N_DOCS * 100_000) // 1_000_000
    print(f"exact_quota_holdout @1M: {wall:.1f}s")


def test_quality_dup_matrix_bounded_at_1m(spark):
    """Quality×dup matrix on the 1M-doc hot-spot corpus: the window
    dup pass shuffles 48B/doc (hash + ttr), the checkpointed audit
    relation is 16B/doc, and the 100k-copy hot spot must land
    entirely in dup buckets."""
    from iceberg_diag_spark.operators.textops import quality_dup_matrix

    docs = _corpus(spark)
    t0 = time.time()
    rows = quality_dup_matrix(docs).collect()
    wall = time.time() - t0
    total = sum(r["n_docs"] for r in rows)
    dup_total = sum(r["dup_docs"] for r in rows)
    assert total == N_DOCS
    # the constructed hot spot: 100 templates x 1000 copies + the
    # 100 originals are all duplicates
    assert dup_total == N_TEMPLATES * N_COPIES + N_TEMPLATES
    print(f"quality_dup_matrix @1M: {wall:.1f}s")


def test_source_quality_calibration_at_1m(spark):
    """Per-source percentile calibration at 1M docs × 17 sources:
    ranks must cover 1..n_s per source (the grouped range-shard rank
    is exact, not approximate) and pct spans [0, 1e6]."""
    from iceberg_diag_spark.operators.textops import (
        source_quality_calibration,
    )

    docs = _corpus(spark).withColumn(
        "source",
        F.concat(F.lit("src"), (F.col("doc_id") % 17).cast("string")),
    )
    t0 = time.time()
    out = source_quality_calibration(docs)
    chk = out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("src_rank").alias("mx"),
        F.countDistinct("src_rank").alias("nd"),
        F.min("pct_ppm").alias("plo"),
        F.max("pct_ppm").alias("phi"),
    ).collect()
    wall = time.time() - t0
    assert len(chk) == 17
    for r in chk:
        assert r["mx"] == r["n"], r  # ranks are a permutation of 1..n
        assert r["nd"] == r["n"], r
        assert r["plo"] == 0 and r["phi"] == 1_000_000, r
    print(f"source_quality_calibration @1M: {wall:.1f}s")


def test_quality_length_skyline_at_1m(spark):
    """Skyline at 1M docs: survivors are mutually non-dominating and
    the corpus folds to the per-ttr histogram before any window."""
    from iceberg_diag_spark.operators.textops import quality_length_skyline

    docs = _corpus(spark)
    t0 = time.time()
    surv = quality_length_skyline(docs).collect()
    wall = time.time() - t0
    assert surv
    # Ties on both axes are mutually non-dominating, so the 100k hot
    # template copies can all survive as ONE repeated point — verify
    # non-domination on the DISTINCT point set, O(n log n): sorted by
    # ttr ascending, chars must be strictly decreasing (a pairwise
    # O(n²) python loop here once burned 45 driver-minutes).
    pts = sorted({(r["ttr_ppm"], r["chars"]) for r in surv})
    for (t1, c1), (t2, c2) in zip(pts, pts[1:]):
        assert t2 > t1, (t1, t2)       # distinct points share no ttr
        assert c2 < c1, ((t1, c1), (t2, c2))
    print(
        f"quality_length_skyline @1M: {wall:.1f}s "
        f"({len(surv)} rows, {len(pts)} distinct pts)"
    )


def test_bpe_merge_candidates_at_1m(spark):
    """BPE pair counting at 1M docs: the distinct-word-form trick
    keeps the pair explode on the vocabulary, and the top-20 comes
    back with exact positive counts."""
    from iceberg_diag_spark.operators.textops import bpe_merge_candidates

    docs = _corpus(spark)
    t0 = time.time()
    rows = bpe_merge_candidates(docs).collect()
    wall = time.time() - t0
    assert len(rows) == 20
    assert all(len(r["pair"]) == 2 and r["merge_count"] > 0 for r in rows)
    # descending count, pair tie-break
    counts = [r["merge_count"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    print(f"bpe_merge_candidates @1M: {wall:.1f}s (top={rows[0]['pair']})")


def test_changepoint_exact_on_10m_constructed_step(spark):
    """CUSUM changepoint on a 10M-event constructed step: hours
    0..499 at 5,000 events/hour, hours 500..999 at 15,000 — the
    argmax must land exactly on the boundary with exact means."""
    from iceberg_diag_spark.operators.events import changepoint_detect

    n = 10_000_000
    h_half = 500
    base_us = 1_700_000_000_000_000
    cut = n // 4  # 2.5M events over the first 500 hours
    hour = F.when(
        F.col("id") < cut, F.col("id") % h_half
    ).otherwise(h_half + (F.col("id") % h_half))
    ev = spark.range(0, n, 1, 64).select(
        F.col("id").alias("event_id"),
        F.lit("step").alias("event_type"),
        F.lit(1).cast("long").alias("user_id"),
        F.timestamp_micros(
            (F.lit(base_us) + hour * 3_600_000_000).cast("long")
        ).alias("ts"),
    )
    t0 = time.time()
    r = changepoint_detect(ev).collect()[0]
    wall = time.time() - t0
    assert r["n_hours"] == 1000
    assert r["cp_idx"] == h_half
    assert r["pre_mean_mppm"] == (cut // h_half) * 1_000_000
    assert r["post_mean_mppm"] == ((n - cut) // h_half) * 1_000_000
    print(f"changepoint @10M: {wall:.1f}s")


def test_substring_dedup_accounting_at_1m(spark):
    """Exact-substring dedup over the 1M corpus: the 100 templates ×
    1,000 hot copies (plus their 100 originals) are 30-token verbatim
    duplicates, so with span=15 every one of their positions is
    covered; the 899,900 unique docs share no 15-gram (hashed mixing
    tokens) and must come through untouched."""
    from iceberg_diag_spark.operators.dedup import substring_dedup

    docs = _corpus(spark)
    t0 = time.time()
    agg = substring_dedup(docs, span=15).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_removed") > 0).cast("long")).alias("touched"),
        F.sum("n_removed").alias("removed"),
        F.sum((F.col("n_removed") == F.col("n_tokens")).cast("long"))
        .alias("emptied"),
    ).collect()[0]
    wall = time.time() - t0
    dup_docs = N_TEMPLATES * N_COPIES + N_TEMPLATES
    assert agg["n_docs"] == N_DOCS
    assert agg["touched"] == dup_docs
    assert agg["emptied"] == dup_docs
    assert agg["removed"] == dup_docs * 30
    print(f"substring_dedup @1M: {wall:.1f}s")


def test_pca_power_at_1m_vectors(spark):
    """1M expression-generated 64-dim vectors with a planted dominant
    direction (component 0 carries ~10× the variance of the hash
    noise): the Gramian pass must survive the 65²-key explode at 65M
    generated rows, and the recovered top component must point at
    dim 0 with a dominant variance share."""
    t0 = time.time()
    dims = []
    for d in range(64):
        if d == 0:
            dims.append(
                ((F.pmod(F.xxhash64(F.col("id")), 2001) - 1000) / 1000.0)
                .cast("float")
            )
        else:
            dims.append(
                (
                    (F.pmod(F.xxhash64(F.col("id"), F.lit(d)), 201) - 100)
                    / 1000.0
                ).cast("float")
            )
    emb = spark.range(1_000_000).select(
        F.col("id").alias("vec_id"), F.array(*dims).alias("embedding")
    )
    from iceberg_diag_spark.operators.similarity import pca_power

    got = {r["pos"]: r for r in pca_power(emb).collect()}
    assert len(got) == 64
    assert abs(got[0]["v_q"]) == 4096  # dominant direction is dim 0
    assert all(abs(got[p]["v_q"]) < 2048 for p in range(1, 64))
    share = got[0]["eig_share_ppm"]
    # planted variance: dim0 var ≈ 1e6/3 vs 63 dims at ~1e4/3 each
    assert share > 500_000
    print(f"pca_power 1M vecs: {time.time() - t0:.1f}s share={share}")


def test_pq_codebook_at_1m_vectors(spark):
    """Same 1M-vector corpus through the PQ audit: one corpus scan,
    membership conserved per subspace, Lloyd monotonicity holds at
    scale."""
    t0 = time.time()
    dims = [
        (
            (F.pmod(F.xxhash64(F.col("id"), F.lit(d)), 513) - 256) / 256.0
        ).cast("float")
        for d in range(64)
    ]
    emb = spark.range(1_000_000).select(
        F.col("id").alias("vec_id"), F.array(*dims).alias("embedding")
    )
    from iceberg_diag_spark.operators.similarity import pq_codebook_audit

    rows = pq_codebook_audit(emb).collect()
    by_sub = {}
    for r in rows:
        assert r["mean_refined_d2"] <= r["mean_seed_d2"]
        by_sub.setdefault(r["subspace"], 0)
        by_sub[r["subspace"]] += r["n_assigned"]
    assert set(by_sub) == set(range(8))
    assert all(v == 1_000_000 for v in by_sub.values())
    print(f"pq_codebook 1M vecs: {time.time() - t0:.1f}s cells={len(rows)}")


def test_doc_kn_nll_bounded_at_1m(spark):
    """KN perplexity scoring at 1M docs: the per-distinct-gram score
    relation stays vocabulary-scale (the corpus is expression-
    generated from a 512-token vocab, so distinct bigrams are
    bounded), every doc comes back scored, and the hot-spot template
    copies — whose bigrams all repeat ≥1000× and clear the pruning
    floor — score strictly more fluent than the corpus median."""
    from iceberg_diag_spark.operators.textops import doc_kn_nll

    docs = _corpus(spark).withColumn("source", F.lit("s"))
    t0 = time.time()
    scored = doc_kn_nll(docs).localCheckpoint()
    n = scored.count()
    wall = time.time() - t0
    assert n == N_DOCS
    dup_cut = N_DOCS - N_TEMPLATES * N_COPIES
    med_all = scored.agg(
        F.expr("percentile_approx(avg_nll_micro, 0.5)").alias("m")
    ).collect()[0]["m"]
    med_hot = (
        scored.filter(F.col("doc_id") >= dup_cut)
        .agg(F.expr("percentile_approx(avg_nll_micro, 0.5)").alias("m"))
        .collect()[0]["m"]
    )
    assert med_hot < med_all
    print(f"doc_kn_nll @1M: {wall:.1f}s (median {med_all}, hot {med_hot})")


def test_bpe_train_merges_at_1m(spark):
    """Iterated BPE training at 1M docs: 4 merges over the
    vocabulary-scale word relation; the merge table is monotone in
    count and the corpus-symbol ledger balances step over step."""
    from iceberg_diag_spark.operators.textops import bpe_train_merges

    docs = _corpus(spark)
    t0 = time.time()
    rows = {r["step"]: r for r in bpe_train_merges(docs, k=4).collect()}
    wall = time.time() - t0
    assert len(rows) == 5
    counts = [rows[i]["merge_count"] for i in range(1, 5)]
    assert counts == sorted(counts, reverse=True)
    for i in range(1, 5):
        assert (
            rows[i]["corpus_symbols"]
            == rows[i - 1]["corpus_symbols"] - rows[i]["merge_count"]
        )
    print(f"bpe_train_merges k=4 @1M: {wall:.1f}s (top={counts[0]})")


def test_lsh_near_dup_tuned_bounded_at_1m(spark):
    """Advisor-executing banding at 1M docs with the exact-dup hot
    spot: the pick stays a refinement config (the 0.95 floor only
    admits 16x1/8x2), exact dups are pre-collapsed so the output is
    star pairs + a bounded near-dup candidate set — never the
    n²-bucket pathology."""
    from iceberg_diag_spark.operators.dedup import lsh_near_dup_tuned

    docs = _corpus(spark)
    t0 = time.time()
    out = lsh_near_dup_tuned(docs).localCheckpoint()
    n_pairs = out.count()
    wall = time.time() - t0
    cfg = out.select("bands", "rows_per_band").distinct().collect()
    assert len(cfg) == 1 and (cfg[0]["bands"], cfg[0]["rows_per_band"]) in (
        (16, 1), (8, 2),
    )
    n_star = N_TEMPLATES * N_COPIES  # one star edge per hot copy
    assert n_pairs >= n_star
    # bounded: star edges + tuned candidates, not quadratic blowup
    assert n_pairs < n_star + 2_000_000
    print(f"lsh_near_dup_tuned @1M: {wall:.1f}s ({n_pairs} pairs)")


# Alpha-only token variant for operators that need the curation gate
# to PASS on part of the corpus (the w###-digit vocab fails the alpha
# ratio everywhere): even ids speak 3-letter alpha words prefixed
# with a stopword (gate-positive), odd ids keep the digit vocab
# (gate-negative) — near-dup-sparse on both sides via the same
# xxhash mixing.
ALPHA_VOCAB = [
    "".join(
        chr(ord("a") + (i // (26 * 26)) % 26)
        + chr(ord("a") + (i // 26) % 26)
        + chr(ord("a") + i % 26)
    )
    for i in range(512)
]


def _gated_corpus(spark):
    alpha = F.array(*[F.lit(w) for w in ALPHA_VOCAB])
    digit = F.array(*[F.lit(w) for w in VOCAB])
    i = F.col("id")
    text = F.when(
        i % 2 == 0,
        F.concat(F.lit("the is that "), _tokens_of(i, alpha)),
    ).otherwise(_tokens_of(i, digit))
    return spark.range(0, N_DOCS, 1, 64).select(
        F.col("id").alias("doc_id"), text.alias("text")
    )


def test_unigram_lm_train_at_1m(spark):
    """Unigram-LM hard-EM at 1M docs: the 512-token expression corpus
    keeps the word-form relation vocabulary-scale, both EM rounds run
    without a driver round-trip, chars survive pruning, and total
    final counts equal the corpus piece emissions (mass balances)."""
    from iceberg_diag_spark.operators.textops import unigram_lm_train

    docs = _corpus(spark)
    t0 = time.time()
    rows = unigram_lm_train(docs, k_em=2).collect()
    wall = time.time() - t0
    assert rows
    chars = {r["piece"] for r in rows if r["piece_len"] == 1}
    # every character of the w###-style vocab survives for coverage
    assert {"w", "0", "1", "9"} <= chars
    total = sum(r["em_count"] for r in rows)
    assert total > 0
    multi = [r for r in rows if r["piece_len"] >= 2]
    assert multi and all(r["em_count"] > 0 for r in multi)
    print(f"unigram_lm_train @1M: {wall:.1f}s pieces={len(rows)}")


def test_corpus_release_manifest_at_1m(spark):
    """The executed release at 1M docs: per-shard doc counts cover
    every stage-4 survivor exactly once (manifest sums = funnel train
    stage), shards stay within 3x of uniform (md5 bucketing), and the
    membership digests are non-trivial."""
    from iceberg_diag_spark.operators import funnel

    docs = _gated_corpus(spark).withColumn("source", F.lit("s"))
    t0 = time.time()
    manifest = funnel.corpus_release_manifest(docs).collect()
    wall = time.time() - t0
    assert len(manifest) == funnel.RELEASE_N_SHARDS
    n_total = sum(r["n_docs"] for r in manifest)
    sizes = sorted(r["n_docs"] for r in manifest)
    assert n_total > 0
    assert sizes[-1] <= 3 * max(sizes[0], 1)
    assert len({r["members_xor"] for r in manifest}) == len(manifest)
    print(
        f"corpus_release_manifest @1M: {wall:.1f}s docs={n_total} "
        f"spread={sizes[0]}..{sizes[-1]}"
    )


def test_classifier_eval_at_1m(spark):
    """AUC + PR curve at 1M docs: the histogram machinery digests a
    near-continuous score without a global sort; AUC is defined and
    the PR grid comes back complete with a valid operating point."""
    from iceberg_diag_spark.operators.textops import (
        classifier_auc_calibration,
        classifier_pr_curve,
    )

    docs = _gated_corpus(spark).withColumn("source", F.lit("s"))
    t0 = time.time()
    bins = classifier_auc_calibration(docs).collect()
    pr = classifier_pr_curve(docs).collect()
    wall = time.time() - t0
    assert sum(r["n_docs"] for r in bins) == N_DOCS
    auc = bins[0]["auc_ppm"]
    # alpha-vocab half is gate-positive and scores higher by
    # construction (alpha + stopword weights are positive)
    assert auc is not None and 500_000 < auc <= 1_000_000
    assert len(pr) == 11
    best = pr[0]
    assert best["best_tp"] + best["best_fn"] == sum(
        r["n_pos"] for r in bins
    )
    print(f"classifier eval @1M: {wall:.1f}s auc={auc}")


def _vec_corpus(spark, n=1_000_000, dim=64):
    """1M expression-generated 64-dim vectors (the pca_power stress
    corpus shape): dim 0 carries a planted dominant direction, the
    rest are bounded hash noise — hash-distinct, so exact-cosine ties
    across different ids are measure-zero."""
    dims = []
    for d in range(dim):
        if d == 0:
            dims.append(
                ((F.pmod(F.xxhash64(F.col("id")), 2001) - 1000) / 1000.0)
                .cast("float")
            )
        else:
            dims.append(
                (
                    (F.pmod(F.xxhash64(F.col("id"), F.lit(d)), 201) - 100)
                    / 1000.0
                ).cast("float")
            )
    return spark.range(0, n, 1, 64).select(
        F.col("id").alias("vec_id"), F.array(*dims).alias("embedding")
    )


def test_classifier_train_lr_at_1m(spark):
    """LR training at 1M docs: one scan into the checkpointed 6-col
    integer relation, k map-side gradient aggregates, zero driver
    round-trips. The trajectory must start at the zero init and the
    learned alpha-ratio weight must be positive — the curation gate
    labels the alpha-vocab half positive, so a trainer that can't
    recover that sign at scale is broken regardless of throughput."""
    from iceberg_diag_spark.operators.textops import classifier_train_lr

    docs = _gated_corpus(spark)
    t0 = time.time()
    rows = {r["step"]: r for r in classifier_train_lr(docs, k_steps=4).collect()}
    wall = time.time() - t0
    assert set(rows) == set(range(5))
    z = rows[0]
    assert all(
        int(z[c]) == 0
        for c in (
            "w_bias_micro", "w_mtl_micro", "w_ttr_micro",
            "w_stop_micro", "w_alpha_micro", "w_dup_micro",
        )
    )
    final = rows[4]
    assert int(final["w_alpha_micro"]) > 0
    assert int(final["w_ttr_micro"]) > 0  # gate also requires ttr>=0.4
    print(f"classifier_train_lr @1M: {wall:.1f}s w_alpha={final['w_alpha_micro']}")


def test_ivf_build_index_at_1m(spark):
    """IVF index build at 1M vectors: the written list_id=K layout
    must cover every vector exactly once (manifest sums from the
    WRITTEN files), keep one directory per occupied cell (partition
    pruning is the whole point), and the consumer probe must answer
    from the files with a full ranked top-k per query."""
    import glob
    import shutil
    import tempfile

    from iceberg_diag_spark.operators.similarity import (
        ivf_build_index,
        ivf_probe_index,
    )

    emb = _vec_corpus(spark)
    path = tempfile.mkdtemp(prefix="ivf_stress_")
    try:
        t0 = time.time()
        manifest = ivf_build_index(emb, path=path, n_lists=16).collect()
        wall = time.time() - t0
        assert sum(r["n_vecs"] for r in manifest) == 1_000_000
        dirs = glob.glob(os.path.join(path, "list_id=*"))
        assert len(dirs) == len(manifest)
        assert len({(r["members_xor"], r["members_xor2"]) for r in manifest}) == len(manifest)
        queries = emb.filter(F.col("vec_id") < 4)
        t1 = time.time()
        hits = ivf_probe_index(
            spark, path, queries, k=5, n_probe=16, n_lists=16
        ).collect()
        probe_wall = time.time() - t1
        per_q = {}
        for r in hits:
            per_q.setdefault(r["query_id"], []).append(r["rank"])
        assert set(per_q) == {0, 1, 2, 3}
        assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())
        # ranking discipline (self-matches are excluded, as in
        # ivf_topk_exact): cos must be non-increasing down each
        # query's ranked list and a full probe never returns the
        # query as its own neighbor
        for qid, rs in (
            (q, sorted((r for r in hits if r["query_id"] == q),
                       key=lambda r: r["rank"]))
            for q in per_q
        ):
            assert all(r["neighbor_id"] != qid for r in rs)
            cos = [r["cos_mppm"] for r in rs]
            assert cos == sorted(cos, reverse=True)
        print(
            f"ivf_build_index @1M: build {wall:.1f}s probe {probe_wall:.1f}s "
            f"cells={len(manifest)}"
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_unigram_lm_encode_at_1m(spark):
    """Trained-vocab encoding at 1M docs: the dataloader view must
    balance — at least one piece per word, no piece longer than
    max_piece_len chars, and the per-source word mass must equal the
    corpus's own filtered word counts (nothing dropped by the join
    against the segmented word-form relation)."""
    from iceberg_diag_spark.operators.textops import unigram_lm_encode

    docs = _gated_corpus(spark).withColumn(
        "source",
        F.when(F.col("doc_id") % 2 == 0, F.lit("alpha")).otherwise(
            F.lit("digit")
        ),
    )
    t0 = time.time()
    rows = {r["source"]: r for r in unigram_lm_encode(docs, k_em=2).collect()}
    wall = time.time() - t0
    assert set(rows) == {"alpha", "digit"}
    for src, r in rows.items():
        assert r["n_pieces"] >= r["n_words"] > 0
        assert r["fertility_ppm"] >= 1_000_000
        assert r["chars_per_piece_ppm"] <= 4_000_000  # max_piece_len=4
        assert r["n_chars"] >= r["n_pieces"]
    # every alpha doc carries the 3 injected stopwords + 30 alpha
    # tokens; digit docs carry 30 digit tokens — word masses differ
    assert rows["alpha"]["n_words"] > rows["digit"]["n_words"]
    print(
        f"unigram_lm_encode @1M: {wall:.1f}s "
        f"fert(alpha)={rows['alpha']['fertility_ppm']}"
    )


def test_release_neardup_reconcile_at_1m(spark, tmp_path_factory):
    """Cross-increment reconcile at 1M docs: increment 0 holds the
    100 template originals (ids 0..99) among 500k unique docs,
    increment 1 holds 400k unique docs plus exactly one released
    copy of each template (ids 900000..900099, the per-increment
    exact-dedup survivors of the hot spot) — so the ground truth is
    exactly 100 cross-batch EXACT pairs. Asserts the probe finds
    all 100 with full-band collisions, that candidate volume stays
    linear in true dups (the band-bucket guarantee — no all-pairs
    blowup from the 900k unique docs), and prints the wall."""
    import shutil

    from iceberg_diag_spark.operators.funnel import (
        release_neardup_reconcile,
    )

    docs = _corpus(spark)
    dup_cut = N_DOCS - N_TEMPLATES * N_COPIES
    inc0 = docs.filter(F.col("doc_id") < 500_000)
    inc1 = docs.filter(F.col("doc_id") >= 500_000)
    root = str(tmp_path_factory.mktemp("reconcile_1m"))
    release, sig = f"{root}/rel", f"{root}/sig"
    os.makedirs(sig)
    # released ids = the per-increment exact-dedup survivors: all
    # unique docs, plus ONE copy per template in increment 1
    inc0.select("doc_id").coalesce(8).write.parquet(
        f"{release}/batch=0"
    )
    # ids 500k..dup_cut-1 are the unique docs; dup_cut..dup_cut+99
    # are the first copy of each template (id dup_cut+t has template
    # t), i.e. exactly the survivors per-increment exact dedup keeps
    rel1 = inc1.filter(F.col("doc_id") < dup_cut + N_TEMPLATES)
    rel1.select("doc_id").coalesce(8).write.parquet(
        f"{release}/batch=1"
    )
    t0 = time.time()
    out = release_neardup_reconcile(
        spark, [(0, inc0), (1, inc1)], release, sig
    )
    rows = out.collect()
    wall = time.time() - t0
    exact = {
        (r.doc_a, r.doc_b)
        for r in rows
        if r.exact_dup and r.n_shared_bands == 4
    }
    for t in range(N_TEMPLATES):
        assert (t, dup_cut + t) in exact
    # candidate volume is linear in true dups, not in corpus size
    assert len(rows) < 10_000
    shutil.rmtree(root, ignore_errors=True)
    print(
        f"release_neardup_reconcile @1M: {wall:.1f}s "
        f"pairs={len(rows)} exact={len(exact)}"
    )


def test_release_retraction_apply_at_1m(spark, tmp_path_factory):
    """Retraction sink at 1M released docs: a synthetic 2-batch
    release (8 shards each, the production write_assigned_shards
    layout) loses 1,000 docs of batch 1. Asserts the ledger's
    files-derived counts, that UNAFFECTED shard files are not even
    touched (same name, size, mtime — the dynamic-overwrite
    surgical-rewrite contract at scale), replay idempotence, and
    prints the wall. The decision collects are partition-granular
    (<= batches x shards rows), so the wall must stay flat in corpus
    size — this is the smoke that would catch a per-row collect."""
    import shutil

    from iceberg_diag_spark.operators.funnel import (
        RELEASE_N_SHARDS,
        release_retraction_apply,
    )
    from iceberg_diag_spark.operators.sampling import hash_bucket
    from iceberg_diag_spark.sources.sinks import write_assigned_shards

    root = str(tmp_path_factory.mktemp("retraction_1m"))
    release = f"{root}/rel"
    half = N_DOCS // 2
    asg = spark.range(N_DOCS).select(
        F.lit("web").alias("source"),
        hash_bucket(F.col("id"), RELEASE_N_SHARDS).alias("shard"),
        F.col("id").alias("doc_id"),
        (F.lit(10) + F.col("id") % 50).cast("long").alias("n_tokens"),
        (F.col("id") / 16).cast("long").alias("seq_id"),
    )
    for b, lo, hi in ((0, 0, half), (1, half, N_DOCS)):
        write_assigned_shards(
            asg.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ),
            f"{release}/batch={b}",
            RELEASE_N_SHARDS,
            order_cols=("source", "seq_id", "doc_id"),
        )
    # 1,000 retractions, all in batch 1, clustered on 2 shards so
    # most shard dirs must come through byte-untouched
    victims = [
        r["doc_id"]
        for r in asg.filter(
            (F.col("doc_id") >= half) & F.col("shard").isin([0, 1])
        )
        .limit(1000)
        .collect()
    ]
    pairs = spark.createDataFrame(
        [(0, -1 - i, 1, v, 4, True) for i, v in enumerate(victims)],
        "batch_a long, doc_a long, batch_b long, doc_b long, "
        "n_shared_bands long, exact_dup boolean",
    )
    def _stat(b, s):
        d = f"{release}/batch={b}/shard={s}"
        return sorted(
            (f, os.path.getsize(f"{d}/{f}"), os.path.getmtime(f"{d}/{f}"))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )
    before = {
        (b, s): _stat(b, s)
        for b in (0, 1)
        for s in range(RELEASE_N_SHARDS)
    }
    t0 = time.time()
    led = {
        r["batch"]: r
        for r in release_retraction_apply(spark, pairs, release, sig_path=None).collect()
    }
    wall = time.time() - t0
    assert led[0]["n_retracted"] == 0
    assert led[1]["n_retracted"] == 1000
    assert led[0]["n_docs_after"] == half
    assert led[1]["n_docs_after"] == half - 1000
    affected = {(1, 0), (1, 1)}
    for key, st in before.items():
        if key not in affected:
            assert _stat(*key) == st, f"shard {key} was touched"
    t1 = time.time()
    led2 = {
        r["batch"]: r
        for r in release_retraction_apply(spark, pairs, release, sig_path=None).collect()
    }
    replay_wall = time.time() - t1
    assert led2[1]["n_retracted"] == 0
    assert led2[1]["n_docs_after"] == half - 1000
    shutil.rmtree(root, ignore_errors=True)
    print(
        f"release_retraction_apply @1M: {wall:.1f}s "
        f"replay={replay_wall:.1f}s"
    )


def test_compaction_apply_at_1m_rows_2k_files(spark, tmp_path):
    """The executing compaction at scale: 1M rows fragmented into
    ~2,000 physical files across 20 partitions, logical sizes chosen
    so every partition packs ~100 files -> a handful of groups.
    Asserts plan==measured on the ledger (the hash-oracle invariant
    at 20x the bench layout), untouched-partition surgery on a
    partition built to need none, and prints the wall breakdown."""
    import shutil
    import tempfile

    from iceberg_diag_spark.operators.compaction import (
        compact_apply_binpack,
    )

    n = N_DOCS
    schema = (
        "row_key string, row_bytes long, file_id long,"
        " partition_key string"
    )
    i = F.col("id")
    # partitions p00..p18 fragment into 100 buckets of ~526 16-KiB
    # rows each (~8 MiB logical files, ~842 MiB partitions -> ~2
    # groups under the 750 MiB cap); p19 holds 2 giant single-row
    # files (already over cap -> must stay byte-untouched)
    part = F.when(
        i < n, F.concat(F.lit("p"), F.lpad((i % 19).cast("string"), 2, "0"))
    ).otherwise(F.lit("p19"))
    rows = (
        spark.range(n + 2)
        .select(
            F.concat(F.lit("k"), i.cast("string")).alias("row_key"),
            F.when(i < n, F.lit(16 * 1024))
            .otherwise(F.lit(900 * 1024 * 1024))
            .cast("long")
            .alias("row_bytes"),
            F.when(i < n, F.pmod(F.xxhash64(i), F.lit(100)))
            .otherwise(i - n)
            .cast("long")
            .alias("file_id"),
            part.alias("partition_key"),
        )
    )
    root = tempfile.mkdtemp(prefix="stress_compaction_")
    try:
        t0 = time.time()
        (
            rows.repartition(64, "partition_key", "file_id")
            .sortWithinPartitions("partition_key", "file_id", "row_key")
            .write.mode("overwrite")
            .partitionBy("partition_key", "file_id")
            .parquet(root)
        )
        t_write = time.time() - t0
        p19 = sorted(
            (f, os.path.getsize(f"{d}/{f}"))
            for d in __import__("glob").glob(f"{root}/partition_key=p19/file_id=*")
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )
        t1 = time.time()
        led = {
            r["partition_key"]: r
            for r in compact_apply_binpack(
                spark,
                root,
                read_schema=schema,
                row_size=F.col("row_bytes"),
                key=F.col("row_key"),
                order_cols=("row_key",),
            ).collect()
        }
        t_apply = time.time() - t1
        assert len(led) == 20
        total_before = sum(r["files_before"] for r in led.values())
        total_after = sum(r["files_after"] for r in led.values())
        assert total_before >= 1900
        for pk, r in led.items():
            if pk == "p19":
                assert not bool(r["compacted"])
                assert r["files_after"] == r["files_before"] == 2
            else:
                assert bool(r["compacted"])
                assert r["files_after"] == r["groups_planned"]
                assert r["rows_after"] == r["rows_before"]
                assert r["scan_overhead_after"] == r["scan_overhead_planned"]
        p19_post = sorted(
            (f, os.path.getsize(f"{d}/{f}"))
            for d in __import__("glob").glob(f"{root}/partition_key=p19/file_id=*")
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )
        assert p19_post == p19, "over-cap partition was touched"
        print(
            f"compaction_apply @1M/{total_before}files: write={t_write:.1f}s "
            f"apply={t_apply:.1f}s files {total_before}->{total_after}"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_clustering_apply_at_1m_rows(spark, tmp_path):
    """The executing sort-order remediation at scale: 1M rows
    arrival-interleaved into 640 files (every file spans ~the whole
    value domain, so the before-layout is maximally overlapped),
    globally re-sorted into 625 chunks of 1,600. Asserts the
    plan==measured ledger invariant at ~85x the sf0.01 registry
    layout, membership-digest survival, and that the written layout
    is overlap-sparse (only duplicate-straddle pairs remain); prints
    the wall breakdown."""
    import shutil
    import tempfile

    from iceberg_diag_spark.operators.compaction import (
        cluster_apply_sorted,
    )
    from iceberg_diag_spark.operators.sampling import (
        membership_checksums,
    )

    n = N_DOCS
    n_files = 640
    m = 1_600  # -> ceil(1M / 1600) = 625 written files
    schema = "row_key string, v long, file_id long"
    i = F.col("id")
    rows = spark.range(n).select(
        F.concat(F.lit("k"), i.cast("string")).alias("row_key"),
        # real hash into a 500k domain: ~2 rows/value on average, so
        # the intra-value rank window stays tiny and a value straddles
        # at most one file boundary
        F.pmod(F.xxhash64(i), F.lit(500_000)).cast("long").alias("v"),
        (i % n_files).cast("long").alias("file_id"),
    )
    root = tempfile.mkdtemp(prefix="stress_clustering_")
    try:
        t0 = time.time()
        (
            rows.repartition(64, "file_id")
            .sortWithinPartitions("file_id", "v", "row_key")
            .write.mode("overwrite")
            .partitionBy("file_id")
            .parquet(root)
        )
        t_write = time.time() - t0
        x1, x2 = membership_checksums(F.col("row_key"))
        want = (
            spark.read.schema(schema)
            .parquet(root)
            .agg(x1.alias("a"), x2.alias("b"))
            .collect()[0]
        )
        t1 = time.time()
        r = cluster_apply_sorted(
            spark,
            root,
            read_schema=schema,
            value_col="v",
            key_col="row_key",
            rows_per_file=m,
        ).collect()[0]
        t_apply = time.time() - t1
        assert r["files_before"] == n_files
        assert r["rows_before"] == r["rows_after"] == n
        # arrival interleave -> (almost) every pair overlapped before
        full = n_files * (n_files - 1) // 2
        assert r["overlap_pairs_before"] > 0.9 * full
        # the core invariant: the closed-form prediction equals the
        # sweep over the WRITTEN files' bounds, exactly
        assert r["files_after"] == r["files_planned"] == 625
        assert r["overlap_pairs_after"] == r["overlap_pairs_planned"]
        assert r["max_depth_after"] == r["max_depth_planned"]
        assert r["avg_depth_ppm_after"] == r["avg_depth_ppm_planned"]
        # sorted layout: only duplicate-straddle (adjacent) overlaps
        assert r["overlap_pairs_after"] < r["files_after"]
        assert r["members_xor_after"] == want["a"]
        assert r["members_xor2_after"] == want["b"]
        print(
            f"clustering_apply @1M/{n_files}files: write={t_write:.1f}s "
            f"apply={t_apply:.1f}s files {n_files}->{r['files_after']} "
            f"overlap {r['overlap_pairs_before']}->{r['overlap_pairs_after']}"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
