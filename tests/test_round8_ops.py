"""Round-8 operators: exact-substring dedup (Lee et al. span removal)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def test_substring_dedup_removes_exactly_the_shared_run(spark):
    """Two docs share a 16-token verbatim run; everything else is
    unique. With span=15 the two dup 15-gram starts cover exactly the
    16 shared positions in each doc — surrounding unique context must
    survive, and the rebuilt text must equal the hand-computed
    survivor string."""
    from iceberg_diag_spark.operators.dedup import substring_dedup

    run = " ".join(f"s{i}" for i in range(16))
    a_pre, a_post = "a0 a1 a2", "a3 a4"
    b_pre, b_post = "b0", "b1 b2 b3"
    docs = spark.createDataFrame(
        [
            (1, f"{a_pre} {run} {a_post}"),
            (2, f"{b_pre} {run} {b_post}"),
            (3, "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12 c13 c14 c15"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in substring_dedup(docs, span=15).collect()
    }
    assert got[1]["n_tokens"] == 3 + 16 + 2
    assert got[1]["n_removed"] == 16
    assert got[1]["cleaned_md5"] == _md5(f"{a_pre} {a_post}")
    assert got[2]["n_tokens"] == 1 + 16 + 3
    assert got[2]["n_removed"] == 16
    assert got[2]["cleaned_md5"] == _md5(f"{b_pre} {b_post}")
    # unique doc: untouched
    assert got[3]["n_removed"] == 0
    assert got[3]["cleaned_md5"] == _md5(
        "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12 c13 c14 c15"
    )


def test_substring_dedup_full_doc_duplicate_empties_both(spark):
    """Exact duplicates at least span tokens long are wiped to the
    empty string (the paper removes every copy of a duplicated span —
    survivorship policy is a separate curation stage)."""
    from iceberg_diag_spark.operators.dedup import substring_dedup

    text = " ".join(f"t{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, "short unique doc")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r for r in substring_dedup(docs, span=15).collect()
    }
    empty_md5 = _md5("")
    assert got[1]["n_removed"] == 20 and got[1]["cleaned_md5"] == empty_md5
    assert got[2]["n_removed"] == 20 and got[2]["cleaned_md5"] == empty_md5
    assert got[3]["n_removed"] == 0


def test_substring_dedup_short_docs_untouched(spark):
    """Docs shorter than span have no full-width gram and can never
    be covered — even verbatim copies of each other."""
    from iceberg_diag_spark.operators.dedup import substring_dedup

    docs = spark.createDataFrame(
        [(1, "same tiny doc"), (2, "same tiny doc")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r for r in substring_dedup(docs, span=15).collect()
    }
    assert got[1]["n_removed"] == 0 and got[2]["n_removed"] == 0
    assert got[1]["cleaned_md5"] == _md5("same tiny doc")


def test_corpus_build_funnel_stage_accounting(spark):
    """Constructed corpus where each stage drops a known doc:
    doc 5 fails quality (no stopwords/low alpha), doc 2 is an exact
    dup of doc 1, doc 4 is a near-dup of doc 3, and the holdout takes
    exactly floor(survivors·ppm/1e6) docs. Checkpointed and
    plain-lineage builds must agree row-for-row."""
    from iceberg_diag_spark.operators.funnel import corpus_build_funnel

    base = (
        "the quick brown fox jumps over the lazy dog and it runs "
        "for a while in the green field with many other animals"
    )
    other = (
        "yesterday the committee voted to approve the funding for "
        "the new library and the garden that the town wanted"
    )
    near = other.replace("garden", "museum")
    docs = spark.createDataFrame(
        [
            (1, base, "web"),
            (2, base, "web"),            # exact dup of 1
            (3, other, "web"),
            (4, near, "web"),            # near-dup of 3
            (5, "0101 1010 0011 %%% ###", "web"),         # fails quality
            (6, "a completely different document about the sea and "
                "the sky and the stars that is long enough to pass "
                "the quality gates easily for this test", "web"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        r["stage"]: (r["n_rows"], r["n_tokens"])
        for r in corpus_build_funnel(docs, holdout_ppm=250_000).collect()
    }
    assert got["raw"][0] == 6
    assert got["quality_gate"][0] == 5          # doc 5 out
    assert got["exact_dedup"][0] == 4           # doc 2 out
    # near-dup stage (CC collapse): components among stage-2
    # survivors are {3, 4} (4 is not its component min and drops)
    # and singletons {1}, {6}; doc 2 already died at stage 2
    assert got["near_dup"][0] == 3
    assert got["train"][0] == 3 - (3 * 250_000) // 1_000_000
    assert got["packed"][1] == got["train"][1]  # packing keeps tokens


def test_crossmodal_agreement_exact_dups_land_in_both(spark):
    """Exact text duplicates are detected by BOTH modalities (star
    pair in the text LSH, hamming-0 payload pair in the media dHash)
    and the Venn identities must hold."""
    from iceberg_diag_spark.operators.multimodal import (
        crossmodal_dedup_agreement,
    )

    text = (
        "the quick brown fox jumps over the lazy dog and then "
        "keeps on running through the field toward the river"
    )
    docs = spark.createDataFrame(
        [
            (1, text),
            (2, text),  # exact dup: both modalities must pair (1,2)
            (3, "a completely different short document about stars"),
        ],
        "doc_id long, text string",
    )
    r = crossmodal_dedup_agreement(docs).collect()[0]
    assert r["n_both"] >= 1
    assert r["n_union"] == r["n_both"] + r["only_text"] + r["only_media"]
    assert r["n_text"] == r["n_both"] + r["only_text"]
    assert r["n_media"] == r["n_both"] + r["only_media"]


def test_expectations_audit_constructed_violations(spark):
    """Feed with one violator per rule class: row 10 breaks the value
    range, row 20 an unknown event type, row 30 a k outside [0,90),
    row 40 a NULL user — counts, ppm, and first-offender handles must
    be exact, and the quarantine row must count DISTINCT drop-rule
    violators (not double-count a row breaking two drop rules)."""
    from iceberg_diag_spark.operators.events import expectations_audit

    rows = []
    for i in range(1, 101):
        rows.append(
            (
                i,
                "2024-03-01 00:00:00",
                None if i == 40 else i % 7,
                "bogus" if i == 20 else "click",
                500.0 if i in (10, 20) else 5.0,  # 20 breaks two rules
                '{"k": 95}' if i == 30 else '{"k": 5}',
            )
        )
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts_s string, user_id long, event_type string,"
        " value double, props string",
    ).select(
        "event_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    got = {r["rule_id"]: r for r in expectations_audit(ev).collect()}
    assert got["value_range"]["n_violations"] == 2
    assert got["value_range"]["first_bad_event_id"] == 10
    assert got["value_range"]["violation_ppm"] == 20_000
    assert got["known_event_type"]["n_violations"] == 1
    assert got["known_event_type"]["first_bad_event_id"] == 20
    assert got["props_k_range"]["n_violations"] == 1
    assert got["props_k_range"]["severity"] == "warn"
    assert got["user_id_present"]["n_violations"] == 1
    assert got["ts_in_window"]["n_violations"] == 0
    assert got["ts_in_window"]["first_bad_event_id"] is None
    # distinct drop violators: rows 10, 20, 40 (20 counted once)
    assert got["_quarantine"]["n_violations"] == 3
    assert got["_quarantine"]["first_bad_event_id"] == 10
    assert all(r["n_checked"] == 100 for r in got.values())


def test_expectations_audit_single_scan_no_shuffle(spark):
    """The audit must stay one scan + one partial-agg pair: no
    Exchange with hashpartitioning (global agg is a single-partition
    exchange), no Python, and exactly one parquet/localtablescan."""
    from iceberg_diag_spark.operators.events import expectations_audit

    ev = spark.createDataFrame(
        [(1, None, 1, "click", 1.0, '{"k": 1}')],
        "event_id long, ts timestamp, user_id long, event_type"
        " string, value double, props string",
    )
    plan = expectations_audit(ev)._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan
    assert "Python" not in plan
    assert plan.count("LocalTableScan") <= 1


def test_shuffle_skew_advisor_conservation_and_salt(spark):
    """Simulated partition loads must conserve totals, and a key
    holding ~90% of rows must land in some partition whose
    recommended salt factor is ~ its share of the fair share."""
    from iceberg_diag_spark.operators.events import shuffle_skew_advisor

    n = 10_000
    ev = spark.range(1, n + 1).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") % 10 < 9, F.lit(7))
        .otherwise(F.col("id") % 50 + 100)
        .alias("user_id"),
    )
    out = shuffle_skew_advisor(ev, n_partitions=8).collect()
    assert sum(r["n_rows"] for r in out) == n
    # cold ids all end in 9 → id % 50 ∈ {9,19,29,39,49}: 5 cold keys
    assert sum(r["n_keys"] for r in out) == 6
    fair = (n + 7) // 8
    hot = max(out, key=lambda r: r["max_key_rows"])
    assert hot["max_key_rows"] == 9_000
    assert hot["recommended_salt"] == -(-9_000 // fair)
    # every cold partition needs no salting
    for r in out:
        if r["max_key_rows"] <= fair:
            assert r["recommended_salt"] == 1


def test_pca_power_recovers_planted_direction(spark):
    """Embeddings planted on the line t·(0.6, 0.8, 0, …): the top
    component must align with (3,4)/5 — max|v| hits the 2^12 grid on
    dim 1 and dim 0 lands at ~3/4 of it — and the variance share must
    be ≈ 1e6 (rank-one cloud; only quantization noise leaks out)."""
    from iceberg_diag_spark.operators.similarity import pca_power

    rows = []
    for k in range(200):
        t = (k - 100) / 100.0
        vec = [0.6 * t, 0.8 * t] + [0.0] * 62
        rows.append((k, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["pos"]: r for r in pca_power(emb).collect()}
    assert len(got) == 64
    v0, v1 = got[0]["v_q"], got[1]["v_q"]
    assert abs(v1) == 4096
    # same sign, 3:4 ratio within quantization slack
    assert v0 * v1 > 0
    assert abs(abs(v0) - 3072) <= 8
    share = got[0]["eig_share_ppm"]
    assert all(r["eig_share_ppm"] == share for r in got.values())
    assert share >= 990_000
    # off-plane dims carry no signal
    assert all(abs(got[p]["v_q"]) <= 8 for p in range(2, 64))


def test_retrieval_rank_eval_identities(spark):
    """Rank-metric identities on the real table: rr_ppm = 0 iff no
    relevant item was retrieved; precision ≤ recall-compatible bound
    (n_retrieved ≤ k); hit@1 ⇒ rr_ppm = 1e6; every panel query from
    the recall audit appears here too (no silent disappearance)."""
    from iceberg_diag_spark.operators.similarity import (
        ann_recall_eval,
        retrieval_rank_eval,
    )
    from iceberg_diag_spark.sources.tpch import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    got = {r["query_id"]: r for r in retrieval_rank_eval(emb, query_mod=50).collect()}
    recall_panel = {
        r["query_id"] for r in ann_recall_eval(emb, query_mod=50).collect()
    }
    assert set(got) == recall_panel
    for r in got.values():
        assert 0 <= r["n_retrieved"] <= 5
        assert 0 <= r["precision_ppm"] <= 1_000_000
        if r["hit_at_1"]:
            assert r["rr_ppm"] == 1_000_000
        if r["rr_ppm"] == 0:
            assert r["precision_ppm"] == 0
        if r["precision_ppm"] == 0:
            assert r["rr_ppm"] == 0 and not r["hit_at_1"]


def test_return_survival_hand_computed_km(spark):
    """Textbook K-M check: 10 items, day 1 = {2 returns, 1 censor} of
    10 at risk, day 2 = {1 return} of 7, day 3 = {6 censors}. Hand
    product-limit: S(1) = floor(1e6·8/10) = 800000,
    S(2) = floor(800000·6/7) = 685714, S(3) unchanged (no event)."""
    from iceberg_diag_spark.operators.profiling import return_survival

    rows = []
    # (orderkey, days-to-ship, returned?)
    spec = (
        [(1, "R"), (1, "R"), (1, "N")]
        + [(2, "R")]
        + [(3, "N")] * 6
    )
    for i, (day, flag) in enumerate(spec):
        rows.append((i, i, day, flag))
    li = spark.createDataFrame(
        rows, "l_orderkey long, x long, day long, l_returnflag string"
    ).select(
        "l_orderkey",
        F.expr("date_add(DATE '2024-01-01', CAST(day AS INT))").alias(
            "l_shipdate"
        ),
        "l_returnflag",
    )
    orders = spark.createDataFrame(
        [(i,) for i in range(len(spec))], "o_orderkey long"
    ).select(
        "o_orderkey", F.lit("2024-01-01").cast("date").alias("o_orderdate")
    )
    got = {
        r["latency_days"]: r for r in return_survival(li, orders).collect()
    }
    # day 2 row: l_orderkey joins 1:1 here (orderkey == row index)
    assert got[1]["n_at_risk"] == 10
    assert got[1]["n_returned"] == 2 and got[1]["n_censored"] == 1
    assert got[1]["hazard_ppm"] == 200_000
    assert got[1]["survival_ppm"] == 800_000
    assert got[2]["n_at_risk"] == 7
    assert got[2]["survival_ppm"] == 685_714
    assert got[3]["n_at_risk"] == 6
    assert got[3]["n_returned"] == 0
    assert got[3]["survival_ppm"] == 685_714


def test_markov_attribution_gateway_channel_gets_full_credit(spark):
    """Hand-solvable chain: click is the only gateway to conversion
    (2 of 3 journeys: START→click→purchase; 1: START→view→end), so
    base conversion = floor(2/3 ·1e6) ppm, removing click zeroes it
    (full attribution), and removing any other channel changes
    nothing."""
    from iceberg_diag_spark.operators.events import markov_attribution

    rows = [
        (1, 1, "click"), (2, 1, "purchase"),
        (3, 2, "click"), (4, 2, "purchase"),
        (5, 3, "view"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string"
    )
    got = {r["channel"]: r for r in markov_attribution(ev).collect()}
    assert set(got) == {"click", "error", "signup", "view"}
    assert all(r["base_conv_ppm"] == 666666 for r in got.values())
    assert got["click"]["removed_conv_ppm"] == 0
    assert got["click"]["removal_effect_ppm"] == 666666
    assert got["click"]["attribution_ppm"] == 1_000_000
    for c in ("view", "signup", "error"):
        assert got[c]["removal_effect_ppm"] == 0
        assert got[c]["attribution_ppm"] == 0


def test_pq_codebook_invariants_on_real_table(spark):
    """On the real embeddings: refined distortion never exceeds seed
    distortion (Lloyd monotonicity), per-subspace occupancy sums to
    ~1e6 ppm, and every subspace's members add up to the corpus."""
    from iceberg_diag_spark.operators.similarity import pq_codebook_audit
    from iceberg_diag_spark.sources.tpch import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    rows = pq_codebook_audit(emb).collect()
    assert rows
    by_sub = {}
    for r in rows:
        assert r["mean_refined_d2"] <= r["mean_seed_d2"]
        assert r["mean_refined_d2"] >= 0
        by_sub.setdefault(r["subspace"], []).append(r)
    assert set(by_sub) == set(range(8))
    for m, cells in by_sub.items():
        assert sum(r["n_assigned"] for r in cells) == n, m
        occ = sum(r["occupancy_ppm"] for r in cells)
        assert 1_000_000 - len(cells) <= occ <= 1_000_000


def test_pq_codebook_planted_cluster_lands_in_one_cell(spark):
    """Vectors equal to a known codeword (subspace 0's code 3,
    zero-padded elsewhere) must all land in cell (0, 3) with zero
    seed distortion in that subspace."""
    from iceberg_diag_spark.operators.similarity import (
        md5_pq_codebook,
        pq_codebook_audit,
    )

    book = md5_pq_codebook()
    target = [h / 256.0 for h in book[0][3]]
    vecs = [(i, target + [0.0] * 56) for i in range(20)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    got = {
        (r["subspace"], r["code"]): r for r in pq_codebook_audit(emb).collect()
    }
    cell = got[(0, 3)]
    assert cell["n_assigned"] == 20
    assert cell["occupancy_ppm"] == 1_000_000
    assert cell["mean_seed_d2"] == 0 and cell["mean_refined_d2"] == 0


def test_kneser_ney_hand_computed(spark):
    """Corpus 'a b a b a c': c(a b)=2, c(b a)=2, c(a c)=1; left
    totals a·=3, b·=2; continuations N1+(a·)=2, N1+(b·)=1,
    N1+(·b)=N1+(·a)=N1+(·c)=1; N1+(··)=3. Hand KN (d=3/4):
    P(b|a)=5/12+6/36=583332 ppm (two floors), P(a|b)=5/8+3/24=750000,
    P(c|a)=1/12+6/36=249999."""
    from iceberg_diag_spark.operators.textops import bigram_kneser_ney

    docs = spark.createDataFrame(
        [(1, "a b a b a c")], "doc_id long, text string"
    )
    got = {r["gram"]: r for r in bigram_kneser_ney(docs).collect()}
    assert set(got) == {"a b", "b a", "a c"}
    assert got["a b"]["n_pair"] == 2 and got["a b"]["n_left_total"] == 3
    assert got["a b"]["mle_ppm"] == 666666
    assert got["a b"]["kn_ppm"] == 416666 + 166666
    assert got["b a"]["mle_ppm"] == 1_000_000
    assert got["b a"]["kn_ppm"] == 625_000 + 125_000
    assert got["a c"]["kn_ppm"] == 83333 + 166666


def test_data_mixing_plan_flags_over_repeated_small_source(spark):
    """A 10000:1 mass imbalance under alpha=0.5: the tiny source's
    alpha-boosted allocation implies ~50 epochs — far past the
    4-epoch rule — while the big source stays under one epoch; the
    plan must flag exactly the tiny one and conserve the budget."""
    from iceberg_diag_spark.operators.sampling import data_mixing_plan

    rows = [(i, "big", 1000) for i in range(1000)] + [
        (9000, "tiny", 100)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, n_chars long"
    )
    got = {r["source"]: r for r in data_mixing_plan(docs).collect()}
    assert got["big"]["mass"] == 1_000_000 and got["tiny"]["mass"] == 100
    total = got["big"]["mass"] + got["tiny"]["mass"]
    budget = total // 2
    alloc = got["big"]["tokens_alloc"] + got["tiny"]["tokens_alloc"]
    assert budget - 2 <= alloc <= budget
    assert got["big"]["epochs_ppm"] < 1_000_000
    assert not got["big"]["over_repeat"]
    assert got["tiny"]["epochs_ppm"] > 4_000_000
    assert got["tiny"]["over_repeat"]
    share = got["big"]["sample_share_ppm"] + got["tiny"]["sample_share_ppm"]
    assert 999_998 <= share <= 1_000_000


def test_quality_psi_identical_snapshots_is_zero(spark):
    """PSI of a distribution against itself is exactly 0 in every
    bucket (smoothed shares equal, ln(1) = 0, floor keeps 0)."""
    from iceberg_diag_spark.operators.textops import quality_psi_drift

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "a committee voted to approve the funding for a library"),
            (3, "%%% 0101 ### noise junk 1010 %%%"),
        ],
        "doc_id long, text string",
    )
    out = quality_psi_drift(docs, docs).collect()
    assert out
    assert all(r["psi_micro"] == 0 for r in out)
    assert all(r["n_old"] == r["n_new"] for r in out)


def test_quality_psi_detects_planted_shift(spark):
    """Old snapshot is clean prose; the new one replaces half of it
    with junk — total PSI must be decisively positive (the smoothed
    per-bucket terms are each ≥ some positive mass where shares
    moved), and the junk bucket must gain members."""
    from iceberg_diag_spark.operators.textops import quality_psi_drift

    clean = [
        (i, "the quick brown fox jumps over the lazy dog and then "
            "it runs through the field for a while with friends")
        for i in range(20)
    ]
    junk = [
        (100 + i, "%%% ### 0101 1010 @@@ $$$ !!! ??? ^^^ &&&")
        for i in range(10)
    ]
    old = spark.createDataFrame(clean, "doc_id long, text string")
    new = spark.createDataFrame(
        clean[:10] + junk, "doc_id long, text string"
    )
    out = quality_psi_drift(old, new).collect()
    total = sum(r["psi_micro"] for r in out)
    # PSI > 0.25 is the standard "act" threshold; a half-junk swap
    # blows far past it
    assert total > 250_000


def test_cohort_ltv_hand_computed(spark):
    """Two cohorts: customer 1 (Jan, $10 then $20 in Feb) and
    customers 2+3 (Feb, $30 and $50 same month). Cumulative LTV per
    member must be exact floor-cents at every offset."""
    from iceberg_diag_spark.operators.profiling import cohort_ltv

    orders = spark.createDataFrame(
        [
            (101, 1, "2024-01-15", 10.0),
            (102, 1, "2024-02-20", 20.0),
            (103, 2, "2024-02-05", 30.0),
            (104, 3, "2024-02-06", 50.0),
        ],
        "o_orderkey long, o_custkey long, d string, o_totalprice double",
    ).select(
        "o_orderkey", "o_custkey",
        F.col("d").cast("date").alias("o_orderdate"), "o_totalprice",
    )
    got = {
        (r["cohort_month"], r["month_offset"]): r
        for r in cohort_ltv(orders).collect()
    }
    jan0 = got[("2024-01", 0)]
    assert jan0["n_active"] == 1 and jan0["revenue_cents"] == 1000
    assert jan0["cum_ltv_cents"] == 1000
    jan1 = got[("2024-01", 1)]
    assert jan1["revenue_cents"] == 2000
    assert jan1["cum_revenue_cents"] == 3000
    assert jan1["cum_ltv_cents"] == 3000  # cohort of one
    feb0 = got[("2024-02", 0)]
    assert feb0["n_active"] == 2
    assert feb0["cum_revenue_cents"] == 8000
    assert feb0["cum_ltv_cents"] == 4000  # 8000 over 2 members
    assert len(got) == 3


def test_session_funnel_ordered_within_session_only(spark):
    """Three users: user 1 has an in-session ordered view→click→
    purchase (all steps count); user 2 has them REVERSED (only the
    view counts); user 3 splits view and click across two sessions
    (view counts in s1, but the click lacks a prior in-session view
    — and the two sessions both enter the denominator)."""
    from iceberg_diag_spark.operators.events import session_funnel

    rows = [
        # user 1: one session, ordered
        (1, "2024-01-01 10:00:00", 1, "view"),
        (2, "2024-01-01 10:01:00", 1, "click"),
        (3, "2024-01-01 10:02:00", 1, "purchase"),
        # user 2: one session, reversed
        (4, "2024-01-01 11:00:00", 2, "purchase"),
        (5, "2024-01-01 11:01:00", 2, "click"),
        (6, "2024-01-01 11:02:00", 2, "view"),
        # user 3: view, then a click 2 hours later (new session)
        (7, "2024-01-01 12:00:00", 3, "view"),
        (8, "2024-01-01 14:30:00", 3, "click"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, t string, user_id long, event_type string"
    ).select(
        "event_id", F.col("t").cast("timestamp").alias("ts"),
        "user_id", "event_type",
    )
    got = {r["step"]: r for r in session_funnel(ev).collect()}
    # sessions: u1×1, u2×1, u3×2 = 4
    assert got["view"]["n_sessions"] == 3       # u1, u2, u3-s1
    assert got["view"]["conversion_ppm"] == 750_000
    assert got["click"]["n_sessions"] == 1      # only u1 (ordered)
    assert got["purchase"]["n_sessions"] == 1   # only u1
    assert got["purchase"]["conversion_ppm"] == 250_000


def test_lsh_param_advisor_s_curve_identities(spark):
    """Analytic S-curve checks: (16,1) at s=0.5 is 1 − (1−s)^16 =
    999985 ppm exactly under the floored fold; catch is monotone in
    similarity for every config, and at fixed s more bands (smaller
    r) never catch less; expected counts conserve ≤ total pairs."""
    from iceberg_diag_spark.operators.dedup import (
        jaccard_threshold_histogram,
        lsh_param_advisor,
    )
    from iceberg_diag_spark.sources.tpch import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    rows = {
        (r["bands"], r["rows_per_band"]): r
        for r in lsh_param_advisor(docs).collect()
    }
    assert set(rows) == {(16, 1), (8, 2), (4, 4), (2, 8), (1, 16)}
    assert rows[(16, 1)]["catch_at_50_ppm"] == 999_985
    total_pairs = sum(
        r["n_pairs"] for r in jaccard_threshold_histogram(docs).collect()
    )
    by_bands = sorted(rows)  # ascending bands
    for k, r in rows.items():
        assert (
            r["catch_at_50_ppm"]
            <= r["catch_at_70_ppm"]
            <= r["catch_at_90_ppm"]
        )
        assert 0 <= r["expected_caught_pairs"] <= total_pairs
    for s_col in ("catch_at_50_ppm", "catch_at_70_ppm", "catch_at_90_ppm"):
        vals = [rows[k][s_col] for k in by_bands]
        assert vals == sorted(vals)  # more bands -> never worse


def test_dau_mau_hand_computed_rolling_window(spark):
    """Three users across three days, one far future day: day 3's
    trailing-30 MAU sees all three users while its DAU is 1; a day
    40 days out starts a fresh window (MAU = 1). Same-day duplicate
    events dedup before counting."""
    from iceberg_diag_spark.operators.events import dau_mau

    rows = [
        (1, "2024-01-01 10:00:00", 1, "view"),
        (2, "2024-01-01 11:00:00", 1, "view"),   # same user-day dup
        (3, "2024-01-01 12:00:00", 2, "view"),
        (4, "2024-01-02 10:00:00", 3, "view"),
        (5, "2024-01-03 10:00:00", 1, "view"),
        (6, "2024-02-15 10:00:00", 2, "view"),   # new window
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, t string, user_id long, event_type string"
    ).select(
        "event_id", F.col("t").cast("timestamp").alias("ts"),
        "user_id", "event_type",
    )
    got = {r["day"]: r for r in dau_mau(ev).collect()}
    assert got["2024-01-01"]["dau"] == 2 and got["2024-01-01"]["mau"] == 2
    assert got["2024-01-02"]["dau"] == 1 and got["2024-01-02"]["mau"] == 3
    assert got["2024-01-03"]["dau"] == 1 and got["2024-01-03"]["mau"] == 3
    assert got["2024-01-03"]["stickiness_ppm"] == 333_333
    assert got["2024-02-15"]["dau"] == 1 and got["2024-02-15"]["mau"] == 1
    assert got["2024-02-15"]["stickiness_ppm"] == 1_000_000
    assert set(got) == {
        "2024-01-01", "2024-01-02", "2024-01-03", "2024-02-15"
    }
