"""Round-10 operators: the executed corpus release (funnel stage-5 →
export sink + per-shard manifest), the per-doc pack assignment it
rides on, and their invariants against the established funnel/packing
operators.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from iceberg_diag_spark.operators import funnel, packing
from iceberg_diag_spark.sources.tpch import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpus_released(spark, tmp_path_factory):
    """``(docs, path, manifest)``: the sf0.001 corpus released once per
    module by ``funnel.corpus_release``, and the manifest it returns
    (computed from the written files). No test writes under ``path``;
    one that tampers with the release works on its own copy."""
    docs = load_table(spark, SF_DIR, "documents")
    out = str(tmp_path_factory.mktemp("release")) + "/corpus"
    return docs, out, funnel.corpus_release(docs, out)


def test_pack_assign_matches_aggregate_fold(spark):
    """Grouping pack_assign_from_counts' per-doc rows by seq_id must
    reproduce pack_sequences_from_counts' (doc_count, seq_tokens)
    exactly — same fold, two output shapes."""
    docs = load_table(spark, SF_DIR, "documents")
    base = docs.select(
        "source",
        F.pmod(F.col("doc_id"), F.lit(3)).cast("long").alias("shard"),
        F.col("doc_id").cast("long").alias("doc_id"),
        (F.col("doc_id") % 97 + 1).cast("long").alias("n_tokens"),
    )
    agg = {
        (r.source, r.shard, r.seq_id): (r.doc_count, r.seq_tokens)
        for r in packing.pack_sequences_from_counts(base, 200).collect()
    }
    regrouped = {
        (r.source, r.shard, r.seq_id): (r.n, r.t)
        for r in packing.pack_assign_from_counts(base, 200)
        .groupBy("source", "shard", "seq_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("n_tokens").cast("long").alias("t"),
        )
        .collect()
    }
    assert regrouped == agg
    assert len(agg) > 1


def test_pack_assign_respects_capacity_and_order(spark):
    """Within a (source, shard) group: seq_ids are contiguous from 0
    in doc_id order, and no multi-doc sequence exceeds the capacity."""
    docs = load_table(spark, SF_DIR, "documents")
    base = docs.select(
        "source",
        F.lit(0).cast("long").alias("shard"),
        F.col("doc_id").cast("long").alias("doc_id"),
        (F.col("doc_id") % 50 + 1).cast("long").alias("n_tokens"),
    )
    rows = sorted(
        packing.pack_assign_from_counts(base, 64).collect(),
        key=lambda r: (r.source, r.doc_id),
    )
    by_group: dict[str, list] = {}
    for r in rows:
        by_group.setdefault(r.source, []).append(r)
    for grp in by_group.values():
        seqs: dict[int, int] = {}
        prev_seq = 0
        for r in grp:
            assert r.seq_id >= prev_seq  # monotone in doc_id order
            prev_seq = r.seq_id
            seqs[r.seq_id] = seqs.get(r.seq_id, 0) + r.n_tokens
        assert sorted(seqs) == list(range(len(seqs)))  # contiguous
        for sid, total in seqs.items():
            n_docs = sum(1 for r in grp if r.seq_id == sid)
            if n_docs > 1:
                assert total <= 64


def test_release_membership_equals_stage4_survivors(spark, corpus_released):
    """The written release's doc set IS the funnel's stage-4 (train)
    survivor set — the executed release ships exactly what the funnel
    counted, no more, no less."""
    docs, out, _ = corpus_released
    written_ids = {
        r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
    }
    survivor_ids = {
        r.doc_id
        for r in funnel.stage_flags(docs)
        .filter(F.col("s4"))
        .select("doc_id")
        .collect()
    }
    assert written_ids == survivor_ids
    assert written_ids  # non-trivial fixture


def test_release_manifest_matches_written_files(spark, corpus_released):
    """corpus_release's manifest (recomputed FROM the written parquet)
    equals corpus_release_manifest's plan-side manifest row for row —
    including the salted membership digests, so a shard lost or
    duplicated in transit cannot hash-match."""
    docs, _, released_manifest = corpus_released
    from_files = {
        r.shard: (r.n_docs, r.n_seqs, r.n_tokens, r.members_xor, r.members_xor2)
        for r in released_manifest.collect()
    }
    from_plan = {
        r.shard: (r.n_docs, r.n_seqs, r.n_tokens, r.members_xor, r.members_xor2)
        for r in funnel.corpus_release_manifest(docs).collect()
    }
    assert from_files == from_plan
    assert len(from_plan) == funnel.RELEASE_N_SHARDS


def test_release_manifest_counts_null_source_sequences(spark):
    """A NULL source is a source: the manifest over docs whose even
    ids carry a NULL source equals the manifest over the same docs
    with a sentinel source in its place. A multi-column
    countDistinct(source, seq_id) skips the NULL-source sequences
    and reads 2-3 fewer n_seqs per shard."""
    docs = load_table(spark, SF_DIR, "documents")

    def manifest(null_as):
        src = F.when(F.col("doc_id") % 2 == 0, F.lit(null_as)).otherwise(
            F.col("source")
        )
        return sorted(
            tuple(r)
            for r in funnel.corpus_release_manifest(
                docs.withColumn("source", src)
            ).collect()
        )

    got, want = manifest(None), manifest("")
    assert len(got) == funnel.RELEASE_N_SHARDS
    assert got == want


def test_release_manifest_tokens_match_funnel_train_stage(spark):
    """Manifest token mass sums to the funnel's stage-4 n_tokens and
    sequence count to its stage-5 n_rows ONLY if sharding never drops
    mass; the seq count differs (release shards by md5 bucket, the
    funnel's packed stage by doc_id%4) but token totals must agree."""
    docs = load_table(spark, SF_DIR, "documents")
    manifest = funnel.corpus_release_manifest(docs)
    total_tokens = manifest.agg(F.sum("n_tokens")).collect()[0][0]
    stages = {
        r.stage: (r.n_rows, r.n_tokens)
        for r in funnel.corpus_build_funnel(docs).collect()
    }
    assert total_tokens == stages["train"][1]
    assert manifest.agg(F.sum("n_docs")).collect()[0][0] == stages["train"][0]


def test_unigram_lm_train_planted(spark):
    """Hand-computed hard-EM on a planted corpus: words ab(x4), c(x2).
    Seed vocab: chars a,b,c + multi 'ab'. Viterbi segments 'ab' as the
    single piece (one term beats two of equal unit cost), so the final
    counts are ab=4, c=2, a=b=0 (chars kept for coverage) and the
    smoothed scores are -ln((cnt+1)/(total+V)) with total=6, V=4."""
    import math

    from iceberg_diag_spark.operators.textops import unigram_lm_train

    docs = spark.createDataFrame(
        [(1, "ab ab ab c", "s1"), (2, "ab c", "s1")],
        "doc_id long, text string, source string",
    )
    rows = {
        r.piece: (r.piece_len, r.em_count, r.nll_micro)
        for r in unigram_lm_train(docs, k_em=2, n_multi=4).collect()
    }
    def nll(cnt):
        return math.floor(-math.log((cnt + 1) / 10.0) * 1_000_000)
    assert rows == {
        "a": (1, 0, nll(0)),
        "b": (1, 0, nll(0)),
        "ab": (2, 4, nll(4)),
        "c": (1, 2, nll(2)),
    }


def test_unigram_longest_piece_tiebreak(spark):
    """'abc' with equal-count pieces 'ab','bc','abc' and chars: the
    3-char piece wins (fewer terms), and among equal-cost candidates
    the backtrack picks the LONGEST — 'abc' must be chosen whole, not
    as ab+c or a+bc."""
    from iceberg_diag_spark.operators.textops import unigram_lm_train

    docs = spark.createDataFrame(
        [(1, "abc abc", "s1")], "doc_id long, text string, source string"
    )
    rows = {
        r.piece: r.em_count
        for r in unigram_lm_train(docs, k_em=1, n_multi=8).collect()
    }
    assert rows.get("abc") == 2
    assert all(
        cnt == 0 for p, cnt in rows.items() if p != "abc"
    )


def test_unigram_fertility_vs_bpe(spark):
    """Fertility comparison on the shared documents fixture: the
    trained unigram tokenizer's fertility (pieces per word) must beat
    the all-characters baseline and land in the same regime as the
    trained BPE tokenizer's corpus fertility (both learn the same
    small synthetic vocabulary, so neither should be >2x the other)."""
    from iceberg_diag_spark.operators.textops import (
        bpe_vocab_coverage,
        unigram_lm_train,
    )
    from iceberg_diag_spark.sources.tpch import load_table

    docs = load_table(spark, SF_DIR, "documents")
    pieces = unigram_lm_train(docs).collect()
    total_pieces = sum(r.em_count for r in pieces)
    words_chars = (
        docs.selectExpr(
            "explode(split(regexp_replace(lower(trim(text)), '\\\\s+', ' '),"
            " ' ')) AS w"
        )
        .where("w <> ''")
        .selectExpr(
            "count(1) AS words", "sum(length(w)) AS chars"
        )
        .collect()[0]
    )
    uni_fert_ppm = 1_000_000 * total_pieces // words_chars.words
    base_fert_ppm = 1_000_000 * words_chars.chars // words_chars.words
    assert 1_000_000 <= uni_fert_ppm < base_fert_ppm
    bpe = bpe_vocab_coverage(docs).collect()
    bpe_fert_ppm = (
        1_000_000 * sum(r.subwords for r in bpe) // sum(r.words for r in bpe)
    )
    assert uni_fert_ppm < 2 * bpe_fert_ppm
    assert bpe_fert_ppm < 2 * uni_fert_ppm


def test_exact_auc_hand_computed_with_ties(spark):
    """Planted score/label pairs including a tie: scores [1,2,2,3],
    labels [0,0,1,1]. Pos-neg pairs: (2,1)=1, (2,2)=0.5, (3,1)=1,
    (3,2)=1 -> U=3.5, AUC=3.5/4=0.875 -> 875000 ppm."""
    from iceberg_diag_spark.operators.textops import exact_auc

    df = spark.createDataFrame(
        [(1, 0), (2, 0), (2, 1), (3, 1)], "score long, y long"
    )
    row = exact_auc(df).collect()[0]
    assert (row.auc_ppm, row.n_pos_total, row.n_neg_total) == (875_000, 2, 2)


def test_exact_auc_edges(spark):
    """Perfect separation -> 1e6; reversed -> 0; all-tied -> 500000;
    single-class -> NULL."""
    from iceberg_diag_spark.operators.textops import exact_auc

    perfect = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1), (4, 1)], "score long, y long"
    )
    assert exact_auc(perfect).collect()[0].auc_ppm == 1_000_000
    reverse = spark.createDataFrame(
        [(4, 0), (3, 0), (2, 1), (1, 1)], "score long, y long"
    )
    assert exact_auc(reverse).collect()[0].auc_ppm == 0
    tied = spark.createDataFrame(
        [(7, 0), (7, 1), (7, 0), (7, 1)], "score long, y long"
    )
    assert exact_auc(tied).collect()[0].auc_ppm == 500_000
    one_class = spark.createDataFrame([(1, 1), (2, 1)], "score long, y long")
    assert exact_auc(one_class).collect()[0].auc_ppm is None


def test_classifier_auc_calibration_fixture(spark):
    """On the documents fixture: bins partition the corpus (doc counts
    sum to the table), empirical rates are exact ratios, and the AUC
    column is constant across bins and inside [0, 1e6]."""
    from iceberg_diag_spark.operators.textops import (
        classifier_auc_calibration,
    )
    from iceberg_diag_spark.sources.tpch import load_table

    docs = load_table(spark, SF_DIR, "documents")
    rows = classifier_auc_calibration(docs).collect()
    assert sum(r.n_docs for r in rows) == docs.count()
    assert len({r.auc_ppm for r in rows}) == 1
    auc = rows[0].auc_ppm
    assert auc is not None and 0 <= auc <= 1_000_000
    for r in rows:
        assert 0 <= r.bin_id <= 9
        assert r.pos_rate_ppm == 1_000_000 * r.n_pos // r.n_docs
        assert r.calib_gap_ppm == r.mean_pred_ppm - r.pos_rate_ppm


def test_c4_rules_audit_planted(spark):
    """Planted per-rule failures: doc 2 fails sentence/punct/words,
    doc 3 fails lorem, doc 4 fails brace, doc 5 fails badwords; the
    line filter keeps exactly the punct-terminated >=5-word lines."""
    from iceberg_diag_spark.operators.textops import c4_rules_audit

    docs = spark.createDataFrame(
        [
            (1, "This is a good clean sentence here.\n"
                "Another fine long sentence follows! Is it third? Yes.",
             "a"),
            (2, "short line\nno punct here at all", "a"),
            (3, "lorem ipsum dolor sit amet etc etc etc.", "b"),
            (4, "code { braces } in this one. Two more follow now! Ok?",
             "b"),
            (5, "casino viagra spam sentence one. two is fine! three?",
             "b"),
        ],
        "doc_id long, text string, source string",
    )
    rows = {r.source: r for r in c4_rules_audit(docs).collect()}
    a, b = rows["a"], rows["b"]
    assert (a.n_docs, a.n_pass_all, a.lines_total, a.lines_kept) == (
        2, 1, 4, 2,
    )
    assert (a.n_pass_min_sentences, a.n_pass_line_punct,
            a.n_pass_line_words) == (1, 1, 1)
    assert (b.n_pass_no_lorem, b.n_pass_no_brace, b.n_pass_no_badwords) == (
        2, 2, 2,
    )
    assert b.n_pass_all == 0
    assert a.pass_all_ppm == 500_000


def test_classifier_pr_curve_matches_python_reference(spark):
    """Recompute the full PR relation in plain Python from the same
    per-doc (score, label) pairs and compare the 11-point interpolated
    precisions and the best-F1 operating point exactly."""
    from iceberg_diag_spark.operators.textops import (
        _scored_vs_gate,
        classifier_pr_curve,
    )
    from iceberg_diag_spark.sources.tpch import load_table

    docs = load_table(spark, SF_DIR, "documents")
    pairs = [
        (r.z_micro, r.y) for r in _scored_vs_gate(docs, "text").collect()
    ]
    p_total = sum(y for _, y in pairs)
    assert p_total > 0
    # histogram -> descending inclusive cumulatives
    hist: dict[int, list[int]] = {}
    for z, y in pairs:
        n, n1 = hist.get(z, (0, 0))
        hist[z] = (n + 1, n1 + y)
    rows = []
    tp = fp = 0
    for z in sorted(hist, reverse=True):
        n, n1 = hist[z]
        tp += n1
        fp += n - n1
        fn = p_total - tp
        rows.append(
            (z, tp, fp, fn,
             1_000_000 * tp // (tp + fp),
             2_000_000 * tp // (2 * tp + fp + fn))
        )
    expect_interp = {
        r_idx * 100_000: max(
            prec for (z, tp, fp, fn, prec, f1) in rows
            if tp * 10 >= r_idx * p_total
        )
        for r_idx in range(11)
    }
    expect_best = max(rows, key=lambda r: (r[5], r[0]))
    got = classifier_pr_curve(docs).collect()
    assert len(got) == 11
    for r in got:
        assert expect_interp[r.recall_grid_ppm] == r.interp_precision_ppm
        assert (r.best_threshold_z, r.best_tp, r.best_fp, r.best_fn,
                r.best_f1_ppm) == (
            expect_best[0], expect_best[1], expect_best[2],
            expect_best[3], expect_best[5],
        )
    # interpolated precision is non-increasing in the recall floor
    seq = [r.interp_precision_ppm
           for r in sorted(got, key=lambda r: r.recall_grid_ppm)]
    assert all(a >= b for a, b in zip(seq, seq[1:]))


def test_classifier_pr_curve_empty_without_positives(spark):
    """A corpus with no gate-positives has undefined recall — the
    operator must return an EMPTY relation, not divide by zero."""
    from iceberg_diag_spark.operators.textops import classifier_pr_curve

    docs = spark.createDataFrame(
        [(1, "zz zz zz", "s"), (2, "qq qq", "s")],
        "doc_id long, text string, source string",
    )
    assert classifier_pr_curve(docs).count() == 0


def test_ivf_nprobe_sweep_monotone_and_exhaustive(spark):
    """More probes can only help: recall and scan fraction are
    non-decreasing in n_probe; probing every list (n_probe = n_lists)
    must reach recall 1.0 since ground truth and candidates share the
    same scoring."""
    from iceberg_diag_spark.operators.similarity import ivf_nprobe_sweep
    from iceberg_diag_spark.sources.tpch import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    rows = sorted(
        ivf_nprobe_sweep(emb, probes=(1, 4, 16)).collect(),
        key=lambda r: r.n_probe,
    )
    assert [r.n_probe for r in rows] == [1, 4, 16]
    recalls = [r.recall_ppm for r in rows]
    scans = [r.scan_frac_ppm for r in rows]
    assert recalls == sorted(recalls)
    assert scans == sorted(scans)
    assert rows[-1].recall_ppm == 1_000_000  # all lists probed
    assert rows[-1].scan_frac_ppm == 1_000_000
    assert rows[0].scan_frac_ppm < 1_000_000  # probing 1 list is cheaper


def test_seasonality_profile_planted(spark):
    """Planted weekly pattern: type 'a' fires 10/hour at Monday 09:00
    and 1/hour everywhere else it appears; the Monday-09 cell's index
    must sit far above 1e6 and the quiet cell far below, and a single
    spiked hour inside an otherwise-flat cell is counted as the
    cell's one outlier."""
    import datetime as dt

    from iceberg_diag_spark.operators.events import seasonality_profile

    # epoch day 0 = Thursday; 1970-01-05 is the first Monday.
    monday9 = dt.datetime(1970, 1, 5, 9, 0, 0)
    rows = []
    eid = 0
    # four Mondays at 09:00 with 10 events each
    for wk in range(4):
        for i in range(10):
            rows.append((eid, "a", 1,
                         monday9 + dt.timedelta(weeks=wk, seconds=i)))
            eid += 1
    # four Tuesdays at 03:00 with 1 event each, except one spiked week
    tue3 = dt.datetime(1970, 1, 6, 3, 0, 0)
    for wk in range(4):
        k = 9 if wk == 2 else 1
        for i in range(k):
            rows.append((eid, "a", 1,
                         tue3 + dt.timedelta(weeks=wk, seconds=i)))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, user_id long, ts timestamp"
    ).withColumn("value", F.lit(1.0))
    prof = {
        (r.dow, r.hod): r for r in seasonality_profile(ev).collect()
    }
    mon = prof[(1, 9)]  # dow 0 = Sunday
    tue = prof[(2, 3)]
    assert mon.cell_hours == 4 and mon.cell_total == 40
    assert tue.cell_hours == 4 and tue.cell_total == 12
    # overall mean = 52/8 hours; monday index = (10 / 6.5) * 1e6
    assert mon.seasonal_ppm == 1_000_000 * 40 * 8 // (4 * 52)
    assert tue.seasonal_ppm == 1_000_000 * 12 * 8 // (4 * 52)
    assert mon.seasonal_ppm > 1_000_000 > tue.seasonal_ppm
    # the spiked Tuesday hour (9 > 2*mean=6) flags high, and the
    # spike drags the cell mean to 3 so the three 1-count hours flag
    # low (1 < mean/2) — 4 outliers total, the documented 2x rule
    assert tue.n_outlier_hours == 4
    assert mon.n_outlier_hours == 0


def test_matryoshka_zero_prefix_vector_is_deterministic(spark):
    """Regression: a vector whose first 16 dims quantize to
    zero (values in [0, 1/256)) has prefix norm 0 — the guarded cosine
    must pin it to 0 in BOTH engines instead of Spark-NULL vs
    DuckDB-inf, so it ranks deterministically as a neighbor."""
    import duckdb

    from iceberg_diag_spark.operators.similarity import matryoshka_audit
    from iceberg_diag_spark.plans.oracles_similarity import _MATRYOSHKA_SQL

    rows = []
    for vid in range(0, 12):
        if vid == 3:
            # zero-prefix: first 32 dims quantize to 0, tail is real
            vec = [0.001] * 32 + [((vid * 7 + d) % 13) / 13.0
                                  for d in range(32)]
        else:
            vec = [((vid * 7 + d) % 13) / 13.0 for d in range(64)]
        rows.append((vid * 100, vec))  # ids multiples of 100 -> all panel
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    got = sorted(
        (r.query_id, r.prefix_dim, r.n_exact, r.n_hits, r.recall_ppm)
        for r in matryoshka_audit(emb).collect()
    )
    con = duckdb.connect()
    con.register("embeddings", emb.toPandas())
    want = sorted(tuple(r) for r in con.execute(_MATRYOSHKA_SQL).fetchall())
    assert got == want
    assert any(q == 300 for q, *_ in got)  # the zero-prefix vector ran


def test_matryoshka_dim_in_prefixes_dedupes(spark):
    """Regression: passing the full dim inside prefix_dims
    must dedupe instead of emitting duplicate aliases and failing
    with an AnalysisException."""
    from iceberg_diag_spark.operators.similarity import matryoshka_audit

    emb = spark.createDataFrame(
        [(i * 100, [((i + d) % 7) / 7.0 for d in range(64)])
         for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    out = matryoshka_audit(emb, prefix_dims=(16, 64), dim=64).collect()
    assert {r.prefix_dim for r in out} == {16}


def test_hour_epoch_integer_division_exact_beyond_double(spark):
    """Regression: hour_epoch must come from integer floor
    division — beyond 2^53 µs (years ≳ 2255) a double true-division
    can round to the wrong hour, and pre-1970 epochs must floor, not
    truncate toward zero."""
    import datetime as dt

    from iceberg_diag_spark.operators.events import hourly_sli_rollup

    far = dt.datetime(2260, 1, 1, 12, 34, 56)  # ~9.15e15 µs > 2^53
    pre = dt.datetime(1969, 12, 31, 23, 30, 0)
    ev = spark.createDataFrame(
        [(1, "view", 1, far, 1.0), (2, "error", 1, pre, 1.0)],
        "event_id long, event_type string, user_id long, ts timestamp,"
        " value double",
    )
    got = {r.hour_epoch for r in hourly_sli_rollup(ev).collect()}
    far_hour = dt.datetime(2260, 1, 1, 12, 0, 0, tzinfo=dt.timezone.utc)
    exact_far = int(far_hour.timestamp() * 1_000_000) // 3_600_000_000
    assert got == {exact_far, -1}


def _auc2_histogram(pairs):
    """The histogram closed form exact_auc implements:
    2U = sum over distinct scores of n1*(2*cum0_below + n0)."""
    hist = {}
    for s, y in pairs:
        n, n1 = hist.get(s, (0, 0))
        hist[s] = (n + 1, n1 + y)
    u2 = 0
    cum0 = 0
    for s in sorted(hist):
        n, n1 = hist[s]
        n0 = n - n1
        u2 += n1 * (2 * cum0 + n0)
        cum0 += n0
    return u2


def _auc2_bruteforce(pairs):
    """2U by direct pair enumeration: 2 per won pair, 1 per tie."""
    pos = [s for s, y in pairs if y]
    neg = [s for s, y in pairs if not y]
    return sum(
        2 if p > n else (1 if p == n else 0) for p in pos for n in neg
    )


def test_auc_histogram_closed_form_property():
    """Property (hypothesis): the tied-block histogram rank-sum equals
    brute-force pair enumeration for arbitrary score/label multisets —
    the identity exact_auc's scale shape rests on."""
    from hypothesis import given, settings, strategies as st

    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=-5, max_value=5),  # force ties
                st.integers(min_value=0, max_value=1),
            ),
            max_size=120,
        )
    )
    @settings(max_examples=300, deadline=None)
    def check(pairs):
        assert _auc2_histogram(pairs) == _auc2_bruteforce(pairs)

    check()


def test_exact_auc_matches_bruteforce_on_random_batch(spark):
    """One Spark run over a deterministic pseudo-random batch with
    heavy ties, pinned against the brute-force pair count."""
    from iceberg_diag_spark.operators.textops import exact_auc

    pairs = [(((i * 37) % 7) - 3, (i * 13) % 2) for i in range(500)]
    df = spark.createDataFrame(pairs, "score long, y long")
    row = exact_auc(df).collect()[0]
    p = sum(y for _, y in pairs)
    n = len(pairs) - p
    u2 = _auc2_bruteforce(pairs)
    assert (row.n_pos_total, row.n_neg_total) == (p, n)
    assert row.auc_ppm == 1_000_000 * u2 // (2 * p * n)


def test_read_release_sequences_reproduces_pack_fold(spark, corpus_released):
    """Consumer reconstruction: grouping the delivered shard rows back
    into sequences reproduces the pack aggregate exactly, and every
    multi-doc sequence respects the capacity with doc_ids in fold
    order."""
    docs, out, _ = corpus_released
    seqs = funnel.read_release_sequences(spark, out).collect()
    assert seqs
    for r in seqs:
        assert r.doc_count == len(r.doc_ids)
        assert list(r.doc_ids) == sorted(r.doc_ids)
        if r.doc_count > 1:
            assert r.seq_tokens <= funnel.RELEASE_CAPACITY_TOKENS
    # regrouped totals equal the manifest
    manifest = {r.shard: r for r in funnel.corpus_release_manifest(docs).collect()}
    by_shard: dict[int, list] = {}
    for r in seqs:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rs in by_shard.items():
        assert sum(r.doc_count for r in rs) == manifest[shard].n_docs
        assert sum(r.seq_tokens for r in rs) == manifest[shard].n_tokens
        assert len(rs) == manifest[shard].n_seqs


def test_verify_release_catches_tampering(spark, corpus_released, tmp_path):
    """verify_release: pristine delivery -> all shards ok; dropping
    rows from one shard directory flips exactly that shard to not-ok
    with the doc-count discrepancy visible; a shard lost entirely
    reads not-ok with NULL actuals, and a shard the manifest never
    named reads not-ok with NULL expectations."""
    import glob as _glob
    import os

    _, released, released_manifest = corpus_released
    manifest = released_manifest.localCheckpoint()
    out = str(tmp_path / "corpus")
    shutil.copytree(released, out)
    ok = funnel.verify_release(spark, out, manifest).collect()
    assert all(r.ok for r in ok) and len(ok) == funnel.RELEASE_N_SHARDS

    # tamper: rewrite shard=0 keeping only half its rows
    shard0 = os.path.join(out, "shard=0")
    kept = spark.read.parquet(shard0).limit(
        spark.read.parquet(shard0).count() // 2
    ).localCheckpoint()
    for f in _glob.glob(os.path.join(shard0, "*.parquet")):
        os.remove(f)
    kept.write.mode("append").parquet(shard0)

    res = {r.shard: r for r in
           funnel.verify_release(spark, out, manifest).collect()}
    assert not res[0].ok
    assert res[0].n_docs_actual < res[0].n_docs_expected
    assert all(r.ok for s, r in res.items() if s != 0)

    # tamper: lose shard=1 entirely, deliver a shard the manifest
    # never named (a copy of shard=2's files)
    foreign = funnel.RELEASE_N_SHARDS + 3
    shutil.rmtree(os.path.join(out, "shard=1"))
    shutil.copytree(
        os.path.join(out, "shard=2"), os.path.join(out, f"shard={foreign}")
    )
    res = {r.shard: r for r in
           funnel.verify_release(spark, out, manifest).collect()}
    assert not res[1].ok and res[1].n_docs_expected > 0
    assert res[1].n_docs_actual is None and res[1].tokens_actual is None
    assert not res[foreign].ok
    assert res[foreign].n_docs_actual == res[2].n_docs_actual
    assert res[foreign].n_docs_expected is None
    assert res[foreign].tokens_expected is None
    assert all(r.ok for s, r in res.items() if s not in (0, 1, foreign))
