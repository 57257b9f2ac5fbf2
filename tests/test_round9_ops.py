"""Round-9 operators: funnel CC-exact stage 3, KN perplexity scoring,
advisor-tuned LSH banding, iterated BPE training."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_funnel_stage3_equals_cc_collapse(spark):
    """Contract behind the stage-3 swap: the funnel's near_dup
    survivor count must equal the connected-components collapse
    (component-min survivor) over the same candidate pairs restricted
    to stage-2 survivors — i.e. the production near_dup_clusters
    semantics, not the former greedy pairwise rule. The fixture
    includes a chained-edit family (T, T+1 edit, T+2 edits) so the
    pair graph carries a multi-hop component, the exact case where
    greedy and CC can diverge."""
    from iceberg_diag_spark.operators import dedup
    from iceberg_diag_spark.operators.funnel import corpus_build_funnel

    base = (
        "the committee voted to approve the funding for the new "
        "library and the garden that the town wanted to build near "
        "the old school by the river in the spring"
    )
    v1 = base.replace("garden", "museum")
    v2 = v1.replace("river", "harbor")
    solo = (
        "a completely different document about the sea and the sky "
        "and the stars that is long enough to pass the quality "
        "gates easily for this corpus fixture"
    )
    rows = [
        (1, base, "web"),
        (2, v1, "web"),
        (3, v2, "web"),
        (4, solo, "web"),
        (5, base, "web"),  # exact dup of 1 — dies at stage 2
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    got = {
        r["stage"]: r["n_rows"]
        for r in corpus_build_funnel(docs, holdout_ppm=0).collect()
    }

    # independent CC collapse over the identical restricted pair set
    s2 = {1, 2, 3, 4}  # doc 5 collapses into 1 at exact dedup
    pairs = dedup.minhash_candidate_pairs(docs)
    fpairs = pairs.filter(
        F.col("doc_a").isin(*s2) & F.col("doc_b").isin(*s2)
    )
    nodes = spark.createDataFrame(
        [(i,) for i in sorted(s2)], "doc_id long"
    )
    labels = dedup.connected_components(nodes, fpairs)
    survivors = labels.filter(
        F.col("cluster_id") == F.col("doc_id")
    ).count()
    assert got["near_dup"] == survivors
    # the chained family must actually have collapsed to one
    # representative for the fixture to exercise the multi-hop case
    edge_rows = {
        (r["doc_a"], r["doc_b"]) for r in fpairs.collect()
    }
    assert (1, 2) in edge_rows and (2, 3) in edge_rows
    assert survivors == 2  # {1,2,3} -> 1, {4} -> 4
    assert got["near_dup"] == 2


def _kn_corpus(spark, n_fluent=22):
    """Fluent docs cycle a tiny vocabulary (every bigram repeats far
    beyond the pruning floor); doc 999 is word-salad whose bigrams
    occur once each — pruned from the table, scored via the
    continuation backoff."""
    fluent = "the cat sat on the mat and the dog sat on the rug"
    rows = [(i, fluent, "web") for i in range(1, n_fluent + 1)]
    gibberish = " ".join(f"zx{i}q wv{i}j" for i in range(12))
    rows.append((999, gibberish, "web"))
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )


def test_kn_gibberish_lands_in_worst_band(spark):
    """The CCNet contract: a planted word-salad document must carry
    the corpus-max average NLL and land in the worst (highest)
    perplexity band of its source."""
    from iceberg_diag_spark.operators.textops import (
        doc_kn_nll,
        doc_kn_perplexity,
    )

    docs = _kn_corpus(spark)
    scored = {r["doc_id"]: r for r in doc_kn_nll(docs).collect()}
    worst = max(scored.values(), key=lambda r: r["avg_nll_micro"])
    assert worst["doc_id"] == 999
    # strict separation, not a tie: backoff ppm for once-seen bigrams
    # is orders of magnitude below the fluent bigrams' KN mass
    fluent_max = max(
        r["avg_nll_micro"] for r in scored.values() if r["doc_id"] != 999
    )
    assert worst["avg_nll_micro"] > 2 * fluent_max

    bands = doc_kn_perplexity(docs).collect()
    top_band = max(r["band"] for r in bands)
    top = next(r for r in bands if r["band"] == top_band)
    assert top["hi_avg_nll_micro"] == worst["avg_nll_micro"]


def test_kn_band_assignment_is_exact_ntile(spark):
    """23 docs in one source with 10 bands: NTILE gives the first
    n%k = 3 bands 3 docs and the rest 2 — the arithmetic band formula
    must reproduce that population exactly (the oracle uses plain
    ntile())."""
    from iceberg_diag_spark.operators.textops import doc_kn_perplexity

    docs = _kn_corpus(spark, n_fluent=22)  # 23 docs total
    bands = sorted(
        (r["band"], r["n_docs"])
        for r in doc_kn_perplexity(docs).collect()
    )
    assert bands == [(b, 3 if b <= 3 else 2) for b in range(1, 11)]


def test_lsh_tuned_recall_ordering(spark):
    """The S-curve ordering the advisor predicts, observed on real
    pairs: with 16 hashes, analytic catch at s=0.7 is ~0.9954 for
    8x2 vs ~0.6666 for the 4x4 default, and only {16x1, 8x2} meet
    the 0.95 floor, of which 8x2 expects fewer candidates — so the
    tuned run must pick (8, 2), surface a SUPERSET of the default's
    pairs (8x2 bands are refinements of 4x4 bands over the same
    seeds), and on a moderate-similarity corpus catch strictly more
    near-dup pairs than the default."""
    from iceberg_diag_spark.operators.dedup import (
        lsh_near_dup_tuned,
        lsh_param_advisor,
        minhash_candidate_pairs,
    )

    vocab = [f"w{j}" for j in range(40)]
    rows = []
    for i in range(20):
        a = " ".join(f"p{i}{t}" for t in vocab)
        # replace a 12-word run -> shingle jaccard well below the 4x4
        # knee (~0.707) but above the 8x2 knee (~0.354)
        b_toks = [
            f"p{i}x{j}" if 14 <= j < 26 else f"p{i}{vocab[j]}"
            for j in range(40)
        ]
        rows.append((2 * i, a, "web"))
        rows.append((2 * i + 1, " ".join(b_toks), "web"))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )

    adv = {
        (r["bands"], r["rows_per_band"]): r
        for r in lsh_param_advisor(docs).collect()
    }
    assert adv[(8, 2)]["catch_at_70_ppm"] > adv[(4, 4)]["catch_at_70_ppm"]
    assert adv[(8, 2)]["catch_at_70_ppm"] >= 950_000
    assert adv[(4, 4)]["catch_at_70_ppm"] < 950_000

    tuned_rows = lsh_near_dup_tuned(docs).collect()
    assert all(
        (r["bands"], r["rows_per_band"]) == (8, 2) for r in tuned_rows
    )
    tuned = {(r["doc_a"], r["doc_b"]) for r in tuned_rows}
    default = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_candidate_pairs(docs).collect()
    }
    assert default <= tuned  # refinement superset, never loses a pair
    planted = {(2 * i, 2 * i + 1) for i in range(20)}
    assert len(planted & tuned) > len(planted & default)


def test_bpe_train_merges_hand_computed(spark):
    """Sennrich toy corpus, merges hand-verified: word counts are
    low:4 lower:2 lowest:1 newer:3 newest:1 new:1 wider:1 wide:2, so
    the merge order is (l,o):7, (lo,w):7, (e,r):6, (e,w):5 — the
    (e,w) count only exists BECAUSE (e,r) merged first (newer =
    n·e·w·er), i.e. the test fails if iterations don't feed forward.
    corpus_symbols must drop by exactly merge_count each step."""
    from iceberg_diag_spark.operators.textops import bpe_train_merges

    docs = spark.createDataFrame(
        [
            (1, "low lower lowest low low newer newest new", "w"),
            (2, "low lower newer newer wider wide wide", "w"),
        ],
        "doc_id long, text string, source string",
    )
    rows = {r["step"]: r for r in bpe_train_merges(docs, k=4).collect()}
    merges = [
        (rows[i]["left_sym"], rows[i]["right_sym"], rows[i]["merge_count"])
        for i in range(1, 5)
    ]
    assert merges == [
        ("l", "o", 7), ("lo", "w", 7), ("e", "r", 6), ("e", "w", 5),
    ]
    for i in range(1, 5):
        assert (
            rows[i]["corpus_symbols"]
            == rows[i - 1]["corpus_symbols"] - rows[i]["merge_count"]
        )
    # fertility audit rides the same rows: baseline = chars per word
    total_words = 15
    assert rows[0]["fertility_ppm"] == (
        1_000_000 * rows[0]["corpus_symbols"] // total_words
    )
    assert rows[4]["fertility_ppm"] < rows[0]["fertility_ppm"]


def test_gopher_rules_planted_failures(spark):
    """One doc per rule violation, one clean doc — each rule's pass
    count must miss exactly its violator."""
    from iceberg_diag_spark.operators.textops import gopher_rules_audit

    # every doc violates EXACTLY one rule (all tokens distinct unless
    # the repetition rule itself is the target)
    clean = "the and " + " ".join(f"word{i:02d}" for i in range(58))
    short = "the and of words here"  # 5 tokens < 50 -> word_count fails
    longtok = "the and " + " ".join(
        f"extraordinarilylongword{i:02d}" for i in range(58)
    )  # mean word length (6 + 58*25)/60 ~ 24 > 10
    numeric = "the and " + " ".join(
        f"{i:02d}999" for i in range(58)
    )  # 2/60 alphabetic tokens < 80%
    nostop = " ".join(
        f"wrd{i:02d}" for i in range(60)
    )  # 60 tokens, mean len 5, zero panel hits
    repeat = " ".join(
        ["the cat and dog run"] * 12
    )  # dup-trigram heavy; mean len exactly 3.0 still passes
    docs = spark.createDataFrame(
        [
            (1, clean, "s"),
            (2, short, "s"),
            (3, longtok, "s"),
            (4, numeric, "s"),
            (5, nostop, "s"),
            (6, repeat, "s"),
        ],
        "doc_id long, text string, source string",
    )
    r = gopher_rules_audit(docs).collect()[0]
    assert r["n_docs"] == 6
    assert r["n_pass_word_count"] == 5       # doc 2 out
    assert r["n_pass_mean_word_len"] == 5    # doc 3 out
    assert r["n_pass_alpha_words"] == 5      # doc 4 out
    assert r["n_pass_stop_panel"] == 5       # doc 5 out
    assert r["n_pass_dup_trigrams"] == 5     # doc 6 out
    assert r["n_pass_all"] == 1
    assert r["pass_all_ppm"] == 1_000_000 // 6


def test_sli_burn_rate_planted_burst(spark):
    """Hour 3 is a full outage (all errors): page_fast fires there
    (err rate 1e6 >= 144000 ppm) and the 6h window carries elevated
    error mass into later hours; a clean hour pages nothing."""
    from iceberg_diag_spark.operators.events import sli_burn_rate

    rows = []
    eid = 0
    for h in range(8):
        for i in range(100):
            eid += 1
            etype = "error" if (h == 3) else ("error" if i < 1 else "view")
            rows.append(
                (eid, f"2024-01-01 {h:02d}:{i % 60:02d}:00", 1, etype, 1.0)
            )
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
        " value double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = {r["hour_epoch"] % 24: r for r in sli_burn_rate(ev).collect()}
    burst = out[3]
    assert burst["err_ppm_1h"] == 1_000_000
    assert burst["page_fast"] and burst["page_slow"]
    assert burst["burn_1h_centi"] == 10_000  # 100x budget
    clean = out[1]
    assert clean["err_ppm_1h"] == 10_000  # 1% baseline
    assert not clean["page_fast"] and not clean["page_slow"]
    # trailing 6h window still sees the burst at hour 5
    assert out[5]["err_ppm_6h"] > 100_000
    assert not out[5]["page_fast"]


def test_minhash_estimator_exact_dup_calibration(spark):
    """An exact-duplicate star pair must score est = exact = 1e6 with
    zero error; a moderate near-dup pair's estimate quantizes to
    sixteenths with the exact value inside the estimator's reach."""
    from iceberg_diag_spark.operators.dedup import minhash_estimator_audit

    base = " ".join(f"tok{i}" for i in range(40))
    near = " ".join(
        f"tok{i}" if i >= 8 else f"alt{i}" for i in range(40)
    )
    docs = spark.createDataFrame(
        [(1, base, "s"), (2, base, "s"), (3, near, "s")],
        "doc_id long, text string, source string",
    )
    rows = {(r["doc_a"], r["doc_b"]): r
            for r in minhash_estimator_audit(docs).collect()}
    star = rows[(1, 2)]
    assert star["est_jaccard_ppm"] == 1_000_000
    assert star["exact_jaccard_ppm"] == 1_000_000
    assert star["err_ppm"] == 0
    if (1, 3) in rows:
        nd = rows[(1, 3)]
        assert nd["est_jaccard_ppm"] % 62_500 == 0  # sixteenths
        assert 0 < nd["exact_jaccard_ppm"] < 1_000_000


def test_zipf_fit_slope_near_minus_one_on_zipf_corpus(spark):
    """A corpus built with freq(rank r) = 240 // r follows Zipf with
    exponent 1, so the fitted slope must sit near -1e6 micro."""
    from iceberg_diag_spark.operators.textops import zipf_fit_audit

    toks = []
    for r in range(1, 41):
        toks += [f"t{r:03d}"] * (240 // r)
    docs = spark.createDataFrame(
        [(1, " ".join(toks), "s")], "doc_id long, text string, source string"
    )
    row = zipf_fit_audit(docs, k=40).collect()[0]
    assert row["n_terms"] == 40
    assert -1_100_000 < row["zipf_slope_micro"] < -900_000
    # intercept ~ ln(240)*1e6 ~ 5.48e6
    assert 5_000_000 < row["intercept_micro"] < 6_000_000


def test_lang_confusion_unknown_label_maps_to_und_or_leaks(spark):
    """A labeled language outside the detector inventory (zh) must
    appear in the matrix — never silently vanish — and clean English
    rows must land on the (en, en) diagonal with full label share."""
    from iceberg_diag_spark.operators.textops import lang_id_confusion

    en = "the cat and the dog have been to the house with many others"
    zh_fake = "zh1 zh2 zh3 zh4 zh5 zh6 zh7 zh8"
    docs = spark.createDataFrame(
        [(1, en, "en"), (2, en, "en"), (3, zh_fake, "zh")],
        "doc_id long, text string, lang string",
    ).withColumn("source", F.lit("s"))
    cells = {(r["lang"], r["pred_lang"]): r
             for r in lang_id_confusion(docs).collect()}
    assert cells[("en", "en")]["n_docs"] == 2
    assert cells[("en", "en")]["label_share_ppm"] == 1_000_000
    assert cells[("zh", "und")]["n_docs"] == 1


def test_bpe_vocab_coverage_hand_computed(spark):
    """Same Sennrich toy corpus as the trainer test; after the four
    merges (l,o)(lo,w)(e,r)(e,w) the encoded corpus is hand-countable:
    15 words, 65 chars, 40 subwords of which 18 are merged units."""
    from iceberg_diag_spark.operators.textops import bpe_vocab_coverage

    docs = spark.createDataFrame(
        [
            (1, "low lower lowest low low newer newest new", "w"),
            (2, "low lower newer newer wider wide wide", "w"),
        ],
        "doc_id long, text string, source string",
    )
    r = bpe_vocab_coverage(docs, k=4).collect()[0]
    assert (r["words"], r["chars"], r["subwords"], r["merged_subwords"]) \
        == (15, 65, 40, 18)
    assert r["fertility_ppm"] == 1_000_000 * 40 // 15
    assert r["baseline_fertility_ppm"] == 1_000_000 * 65 // 15
    assert r["merged_share_ppm"] == 450_000


def test_source_modularity_assortative_partition(spark):
    """Two exact-dup pairs, each inside its own source: the star
    edges are all intra-source, so each source contributes
    1e6*(1/2 - (2/4)^2) = 250000 and total Q = 0.5."""
    from iceberg_diag_spark.operators.graph import source_modularity

    text_a = "alpha beta gamma delta epsilon zeta eta theta"
    text_b = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [(1, text_a, "sA"), (2, text_a, "sA"),
         (3, text_b, "sB"), (4, text_b, "sB")],
        "doc_id long, text string, source string",
    )
    rows = {r["source"]: r for r in source_modularity(docs).collect()}
    for s in ("sA", "sB"):
        assert rows[s]["degree_sum"] == 2
        assert rows[s]["intra_edges"] == 1
        assert rows[s]["q_contrib_micro"] == 250_000
    assert sum(r["q_contrib_micro"] for r in rows.values()) == 500_000


def test_holt_forecast_constant_and_ramp(spark):
    """Constant series: level locks to the value, trend stays 0, MAE
    0, forecast = value. Linear ramp: trend goes positive and the
    forecast exceeds the last observation."""
    from iceberg_diag_spark.operators.events import holt_forecast

    rows = []
    eid = 0
    for h in range(12):
        for _ in range(50):  # constant 50/hour
            eid += 1
            rows.append((eid, f"2024-01-01 {h:02d}:00:00", 1, "view", 1.0))
        for _ in range(10 * (h + 1)):  # ramp 10,20,...,120/hour
            eid += 1
            rows.append((eid, f"2024-01-01 {h:02d}:00:00", 1, "click", 1.0))
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
        " value double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = {r["event_type"]: r for r in holt_forecast(ev).collect()}
    const = out["view"]
    assert const["trend_final_scaled"] == 0
    assert const["level_final_scaled"] == 1024 * 50
    assert const["mae_milli"] == 0
    assert const["forecast_next_scaled"] == 1024 * 50
    ramp = out["click"]
    assert ramp["trend_final_scaled"] > 0
    assert ramp["forecast_next_scaled"] > 1024 * 120 - 10 * 1024
    assert ramp["n_predicted"] == 11


def test_holt_forecast_negative_level_no_reset(spark):
    """Regression (review finding): a steeply declining series drives
    the Holt LEVEL itself negative; an l<0 init sentinel would reset
    the fold mid-series and diverge from the oracle's recursion. The
    fold must keep folding: n_predicted covers every hour after the
    first and the final state replays the hand recursion."""
    from iceberg_diag_spark.operators.events import holt_forecast

    counts = [4096] + [1] * 9
    rows = []
    eid = 0
    for h, c in enumerate(counts):
        for _ in range(c):
            eid += 1
            rows.append((eid, f"2024-01-01 {h:02d}:00:00", 1, "view", 1.0))
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
        " value double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    r = holt_forecast(ev).collect()[0]
    assert r["n_predicted"] == 9

    def fdiv4(x):
        return (x - (x % 4 + 4) % 4) // 4

    l, b, n, sae = 1024 * counts[0], 0, 0, 0
    for c in counts[1:]:
        sae += abs(1024 * c - (l + b))
        lnew = fdiv4(1024 * c + 3 * (l + b))
        b = fdiv4(lnew - l + 3 * b)
        l = lnew
        n += 1
    assert l < 0  # the fixture genuinely exercises a negative level
    assert (r["level_final_scaled"], r["trend_final_scaled"]) == (l, b)
    assert r["mae_milli"] == 1000 * sae // (1024 * n)


def test_zipf_degenerate_single_token_is_null(spark):
    """Regression (review finding): one distinct token gives zero
    x-variance; the fit must return NULLs, not an ANSI
    divide-by-zero."""
    from iceberg_diag_spark.operators.textops import zipf_fit_audit

    docs = spark.createDataFrame(
        [(1, "same same same same", "s")],
        "doc_id long, text string, source string",
    )
    r = zipf_fit_audit(docs).collect()[0]
    assert r["n_terms"] == 1
    assert r["zipf_slope_micro"] is None
    assert r["intercept_micro"] is None


def test_minhash_estimator_short_exact_dup_scores_full(spark):
    """Regression (review finding): a star pair of byte-identical
    docs SHORTER than the shingle width has no signatures; it must
    still appear with est = exact = 1e6 instead of being dropped by
    the signature join."""
    from iceberg_diag_spark.operators.dedup import minhash_estimator_audit

    docs = spark.createDataFrame(
        [(1, "tiny doc", "s"), (2, "tiny doc", "s")],
        "doc_id long, text string, source string",
    )
    rows = {(r["doc_a"], r["doc_b"]): r
            for r in minhash_estimator_audit(docs).collect()}
    assert rows[(1, 2)]["est_jaccard_ppm"] == 1_000_000
    assert rows[(1, 2)]["exact_jaccard_ppm"] == 1_000_000
    assert rows[(1, 2)]["err_ppm"] == 0


def test_matryoshka_recall_grows_with_prefix(spark):
    """On the deterministic synthetic embeddings, 32-dim prefixes
    recover strictly more of the full-64 top-k than 16-dim prefixes
    in aggregate, every query reports both prefixes, and recall stays
    a valid ppm."""
    from iceberg_diag_spark.operators.similarity import matryoshka_audit
    from iceberg_diag_spark.sources.tpch import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = matryoshka_audit(emb).collect()
    by_dim = {}
    for r in rows:
        assert 0 <= r["recall_ppm"] <= 1_000_000
        assert r["n_hits"] <= r["n_exact"] == 5
        by_dim.setdefault(r["prefix_dim"], []).append(r["recall_ppm"])
    assert set(by_dim) == {16, 32}
    assert len(by_dim[16]) == len(by_dim[32])
    assert sum(by_dim[32]) > sum(by_dim[16])


def test_data_mixing_sample_fills_allocation(spark):
    """Executing the mixing plan: every source's selected prefix must
    cover its allocation with overshoot bounded by one document, the
    selection must be deterministic (same input -> same sample), and
    a homogeneous source fills exactly."""
    from iceberg_diag_spark.operators.sampling import (
        data_mixing_plan,
        data_mixing_sample,
    )

    rows = [(i, "x", "het", (i % 10) + 1) for i in range(20)]
    rows += [(100 + i, "x", "homo", 10) for i in range(10)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    )
    plan = {r["source"]: r["tokens_alloc"]
            for r in data_mixing_plan(docs).collect()}
    got = {r["source"]: r for r in data_mixing_sample(docs).collect()}
    for s, r in got.items():
        assert r["tokens_alloc"] == plan[s]
        assert r["tokens_selected"] >= r["tokens_alloc"]
        max_w = 10
        assert r["tokens_selected"] - r["tokens_alloc"] < max_w
        assert r["fill_ppm"] >= 1_000_000
    # homogeneous docs divide the allocation evenly iff alloc % 10 == 0
    if plan["homo"] % 10 == 0:
        assert got["homo"]["tokens_selected"] == plan["homo"]
    again = {r["source"]: r["tokens_selected"]
             for r in data_mixing_sample(docs).collect()}
    assert again == {s: r["tokens_selected"] for s, r in got.items()}


def test_data_mixing_sample_keeps_null_source(spark):
    """data_mixing_plan allocates tokens to the NULL source, so the
    sample must select from it: an equi-join on the source drops the
    NULL stratum and returns only the `a` row."""
    from iceberg_diag_spark.operators.sampling import (
        data_mixing_plan,
        data_mixing_sample,
    )

    rows = [
        (i, "x", None if i % 2 else "a", (i % 5) + 1) for i in range(20)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    )
    plan = {r["source"]: r["tokens_alloc"]
            for r in data_mixing_plan(docs).collect()}
    assert set(plan) == {"a", None}
    got = {r["source"]: r for r in data_mixing_sample(docs).collect()}
    assert set(got) == {"a", None}
    for s, r in got.items():
        assert r["tokens_alloc"] == plan[s]
        assert r["n_docs_selected"] >= 1
        assert r["tokens_selected"] >= r["tokens_alloc"]
