"""Unit tests for the round-6b extensions: BM25 retrieval, SCD2
history build, k-anonymity audit, PMI collocations — small fixtures
with hand-computable (or brute-force Python) expectations."""

from __future__ import annotations

import math
import re

import pytest


def test_bm25_topk_matches_python_reference(spark):
    from iceberg_diag_spark.operators.textops import bm25_topk

    docs = [
        (0, "spark join window spark spark"),
        (1, "join join filter sort"),
        (2, "window"),
        (3, "table scan merge sort filter agg"),  # no query term
        (4, "spark spark spark spark spark spark spark spark"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_terms_hit"], r["bm25_micro"])
        for r in bm25_topk(df, query_terms=("spark", "join", "window"), k=10).collect()
    }
    # python reference with the identical fixed-shape expression
    toks = {i: t.split(" ") for i, t in docs}
    n_docs = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n_docs
    tf = {}
    for i, ts in toks.items():
        for term in ("spark", "join", "window"):
            c = ts.count(term)
            if c:
                tf[(i, term)] = c
    df_t = {
        term: sum(1 for (i, t2) in tf if t2 == term)
        for term in ("spark", "join", "window")
    }
    ref = {}
    for (i, term), c in tf.items():
        dl = len(toks[i])
        idf = math.log(1.0 + ((n_docs - df_t[term] + 0.5) / (df_t[term] + 0.5)))
        s = math.floor(
            1_000_000.0
            * idf
            * ((c * 2.2) / (c + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
        )
        hit, tot = ref.get(i, (0, 0))
        ref[i] = (hit + 1, tot + s)
    assert got == ref
    # doc 3 has no query terms -> absent
    assert 3 not in got


def test_bm25_topk_k_limits_and_ordering(spark):
    from iceberg_diag_spark.operators.textops import bm25_topk

    df = spark.createDataFrame(
        [(i, "spark word") for i in range(10)], "doc_id long, text string"
    )
    rows = bm25_topk(df, query_terms=("spark",), k=4).collect()
    # identical scores everywhere -> tie-break by doc_id ascending
    assert [r["doc_id"] for r in rows] == [0, 1, 2, 3]


def test_scd2_build_intervals(spark):
    from iceberg_diag_spark.operators.events import scd2_build

    rows = [
        # user 1: A A B A  -> runs A(t1..t3) B(t3..t4) A(t4..)
        (1, 1, 1_000_000, "A"),
        (2, 1, 2_000_000, "A"),
        (3, 1, 3_000_000, "B"),
        (4, 1, 4_000_000, "A"),
        # user 2: single event -> one open interval
        (5, 2, 9_000_000, "X"),
    ]
    ev = spark.createDataFrame(
        [(eid, u, ts, et) for eid, u, ts, et in rows],
        "event_id long, user_id long, ts_raw long, event_type string",
    ).selectExpr(
        "event_id", "user_id",
        "timestamp_micros(ts_raw) AS ts", "event_type",
    )
    got = sorted(
        (
            (r["user_id"], r["version_seq"], r["state"],
             r["valid_from_us"], r["valid_to_us"], r["is_current"])
            for r in scd2_build(ev).collect()
        )
    )
    assert got == [
        (1, 1, "A", 1_000_000, 3_000_000, 0),
        (1, 2, "B", 3_000_000, 4_000_000, 0),
        (1, 3, "A", 4_000_000, None, 1),
        (2, 1, "X", 9_000_000, None, 1),
    ]
    # half-open intervals tile each user's lifetime: next valid_from
    # equals previous valid_to


def test_scd2_build_timestamp_tie_uses_event_id(spark):
    from iceberg_diag_spark.operators.events import scd2_build

    ev = spark.createDataFrame(
        [(2, 1, 1_000_000, "B"), (1, 1, 1_000_000, "A")],
        "event_id long, user_id long, ts_raw long, event_type string",
    ).selectExpr(
        "event_id", "user_id",
        "timestamp_micros(ts_raw) AS ts", "event_type",
    )
    got = sorted(
        (r["version_seq"], r["state"], r["is_current"])
        for r in scd2_build(ev).collect()
    )
    # event_id orders the tie: A (eid 1) precedes B (eid 2)
    assert got == [(1, "A", 0), (2, "B", 1)]


def test_k_anonymity_audit_counts(spark):
    from iceberg_diag_spark.operators.privacy import k_anonymity_audit

    # classes: (a,1)x5 all same sensitive; (a,2)x2 two sensitives;
    # (b,1)x1 single row
    rows = (
        [("a", 1, "s1")] * 5
        + [("a", 2, "s1"), ("a", 2, "s2")]
        + [("b", 1, "s3")]
    )
    df = spark.createDataFrame(rows, "g string, b long, sens string")
    got = {
        r["k"]: r.asDict()
        for r in k_anonymity_audit(df, ["g", "b"], "sens", (2, 5, 10)).collect()
    }
    assert set(got) == {2, 5, 10}
    for k in (2, 5, 10):
        assert got[k]["n_classes"] == 3
        assert got[k]["min_class_size"] == 1
        assert got[k]["min_l"] == 1
        assert got[k]["homogeneous_classes"] == 2  # (a,1) and (b,1)
    assert got[2]["n_violating_classes"] == 1  # only (b,1)
    assert got[2]["records_at_risk"] == 1
    assert got[5]["n_violating_classes"] == 2  # (a,2) and (b,1)
    assert got[5]["records_at_risk"] == 3
    assert got[10]["n_violating_classes"] == 3
    assert got[10]["records_at_risk"] == 8


_PMI_DOCS = [
    (0, "a b a b a b c d"),
    (1, "a b c a b"),
    (2, "d c d c"),
    (3, "x"),  # single token -> no bigrams
]

# Texts whose normalized form leaves empty tokens at the ends (a
# newline is not trimmed, it becomes a space), empty, NULL, tab runs
# with upper case and a single token.
_PMI_EDGE_DOCS = [
    (0, "\nAlpha beta"),
    (1, "alpha BETA\n"),
    (2, "\n"),
    (3, ""),
    (4, None),
    (5, "Gamma\t\tDelta \t ALPHA\tbeta"),
    (6, "solo"),
    (7, "  alpha beta  "),
    (8, "x\n\ny\n"),
    (9, "\n\tgamma"),
]


@pytest.mark.parametrize(
    "docs, min_count", [(_PMI_DOCS, 2), (_PMI_EDGE_DOCS, 1)],
    ids=["plain", "edge_text"],
)
def test_pmi_collocations_matches_python_reference(spark, docs, min_count):
    from iceberg_diag_spark.operators.textops import pmi_collocations

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["w1"], r["w2"]): (r["n_pair"], r["pmi_micro"])
        for r in pmi_collocations(
            df, min_count=min_count, top_n=100
        ).collect()
    }
    # python reference over the same bigram event stream, tokens from
    # normalized_text: lower, strip spaces only, collapse \s+
    bigrams = []
    for _, t in docs:
        if t is None:
            continue
        ts = re.sub(r"\s+", " ", t.lower().strip(" ")).split(" ")
        bigrams += list(zip(ts, ts[1:]))
    n_total = len(bigrams)
    from collections import Counter

    pair_c = Counter(bigrams)
    left_c = Counter(w1 for w1, _ in bigrams)
    right_c = Counter(w2 for _, w2 in bigrams)
    ref = {}
    for (w1, w2), c in pair_c.items():
        if c >= min_count:
            pmi = (
                math.log(float(c))
                + math.log(float(n_total))
                - math.log(float(left_c[w1]))
                - math.log(float(right_c[w2]))
            )
            ref[(w1, w2)] = (c, math.floor(1_000_000.0 * pmi))
    assert got == ref


def test_pmi_collocations_top_n_tie_break(spark):
    from iceberg_diag_spark.operators.textops import pmi_collocations

    # two disjoint pairs with identical statistics -> identical PMI;
    # top_n=1 must pick the lexicographically first
    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "c d c d")], "doc_id long, text string"
    )
    rows = pmi_collocations(df, min_count=2, top_n=1).collect()
    assert len(rows) == 1
    assert (rows[0]["w1"], rows[0]["w2"]) == ("a", "b")


def test_benford_audit_matches_python_reference(spark):
    from iceberg_diag_spark.operators.profiling import benford_audit

    vals = [1.23, 12.34, 19.99, 2.50, 29.0, 311.11, 0.42, 9000.0,
            0.0, -5.0, 1.00, 155.5]
    df = spark.createDataFrame([(v,) for v in vals], "amount double")
    got = {r["digit"]: r.asDict() for r in benford_audit(df, "amount").collect()}
    pos = [v for v in vals if v > 0]
    digits = [int(str(math.floor(v * 100))[0]) for v in pos]
    from collections import Counter

    cnt = Counter(digits)
    assert {d: r["n_rows"] for d, r in got.items()} == dict(cnt)
    n_total = len(pos)
    for d, r in got.items():
        assert r["observed_ppm"] == (1_000_000 * cnt[d]) // n_total
        assert r["expected_ppm"] == math.floor(
            1_000_000.0 * math.log10(1.0 + 1.0 / d)
        )
        assert r["delta_ppm"] == r["observed_ppm"] - r["expected_ppm"]
    # expected shares over all 9 digits sum to ~1e6 (floor slack < 9)
    exp_all = sum(
        math.floor(1_000_000.0 * math.log10(1.0 + 1.0 / d))
        for d in range(1, 10)
    )
    assert 1_000_000 - 9 < exp_all <= 1_000_000


def test_pii_density_by_source_counts(spark):
    from iceberg_diag_spark.operators.textops import pii_density_by_source

    rows = [
        (0, "clean text here", "a"),
        (1, "mail me at bob@x.org today", "a"),
        (2, "ssn 123-45-6789 and ph 555-1234", "a"),
        (3, "two mails x@y.io z@w.co", "b"),
        (4, "nothing", "b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["source"]: r.asDict() for r in pii_density_by_source(df).collect()}
    a, b = got["a"], got["b"]
    assert (a["n_docs"], a["docs_with_pii"]) == (3, 2)
    assert (a["n_emails"], a["n_ssns"], a["n_phones"]) == (1, 1, 1)
    chars_a = sum(len(t) for _, t, s in rows if s == "a")
    assert a["total_chars"] == chars_a
    assert a["pii_per_mchar"] == (1_000_000 * 3) // chars_a
    assert (b["n_docs"], b["docs_with_pii"], b["n_emails"]) == (2, 1, 2)


def test_ngram_dup_curve_matches_python_reference(spark):
    from iceberg_diag_spark.operators.dedup import ngram_dup_curve

    docs = [(0, "a b a b"), (1, "a b c"), (2, "x")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["n"]: (r["total_grams"], r["distinct_grams"], r["dup_ppm"])
        for r in ngram_dup_curve(df, max_n=3).collect()
    }
    ref = {}
    for n in (1, 2, 3):
        grams = []
        for _, t in docs:
            ts = t.split(" ")
            grams += [
                " ".join(ts[i : i + n]) for i in range(len(ts) - n + 1)
            ]
        total, dist = len(grams), len(set(grams))
        ref[n] = (total, dist, ((total - dist) * 1_000_000) // total)
    assert got == ref
    # curve is monotone here: duplication falls as n grows
    assert got[1][2] >= got[2][2] >= got[3][2]


def test_cadence_autocorr_matches_python_reference(spark):
    from iceberg_diag_spark.operators.events import cadence_autocorr

    import random

    rng = random.Random(12)
    rows, eid = [], 0
    # type A: diurnal-ish rhythm over 4 days with silent hours;
    # type B: constant one event/hour -> zero variance -> NULL corr
    for hour in range(96):
        n = (3 + (2 if hour % 24 in (9, 10, 11) else 0)) if hour % 7 else 0
        for _ in range(n):
            rows.append((eid, 1, hour * 3_600_000_000 + rng.randrange(3_600_000_000), "A"))
            eid += 1
    for hour in range(48):
        rows.append((eid, 2, hour * 3_600_000_000 + 5, "B"))
        eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_raw long, event_type string"
    ).selectExpr(
        "event_id", "user_id", "timestamp_micros(ts_raw) AS ts", "event_type"
    )
    got = {
        (r["event_type"], r["lag_h"]): (r["n_pairs"], r["corr_ppm"])
        for r in cadence_autocorr(ev, lags=(1, 24)).collect()
    }

    def ref_corr(series, k):
        xs, ys = series[:-k] if k else series, series[k:]
        xs = series[: len(series) - k]
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(a * b for a, b in zip(xs, ys))
        sxx, syy = sum(a * a for a in xs), sum(b * b for b in ys)
        num = n * sxy - sx * sy
        vx, vy = n * sxx - sx * sx, n * syy - sy * sy
        if vx <= 0 or vy <= 0:
            return n, None
        return n, math.floor(
            1_000_000.0 * float(num) / (math.sqrt(float(vx)) * math.sqrt(float(vy)))
        )

    from collections import Counter

    per_hour = Counter((et, t // 3_600_000_000) for _, _, t, et in rows)
    for et in ("A", "B"):
        hs = [h for (e, h) in per_hour if e == et]
        lo, hi = min(hs), max(hs)
        series = [per_hour.get((et, h), 0) for h in range(lo, hi + 1)]
        for k in (1, 24):
            assert got[(et, k)] == ref_corr(series, k), (et, k)
    assert got[("B", 1)][1] is None  # constant series -> NULL
    assert got[("A", 24)][1] is not None


def test_quality_dup_matrix_counts(spark):
    from iceberg_diag_spark.operators.textops import quality_dup_matrix

    # 6 docs: two exact-dup pairs (low TTR), two unique high-TTR docs
    docs = [
        (0, "a a a a"),          # ttr 250000, dup (with 1)
        (1, "a a a a"),
        (2, "b b b b b"),        # ttr 200000, dup (with 3)
        (3, "b b b b b"),
        (4, "p q r s"),          # ttr 1e6, unique
        (5, "t u v w x"),        # ttr 1e6, unique
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = quality_dup_matrix(df).collect()
    total = sum(r["n_docs"] for r in rows)
    dup_total = sum(r["dup_docs"] for r in rows)
    assert total == 6 and dup_total == 4
    by_decile = sorted(rows, key=lambda r: r["decile"])
    # every doc in the lowest-TTR bucket is a duplicate; the
    # top bucket (ttr 1e6) holds only the unique docs
    assert by_decile[0]["dup_ppm"] == 1_000_000
    top = by_decile[-1]
    assert top["min_ttr_ppm"] == 1_000_000 and top["dup_docs"] == 0
    for r in rows:
        assert r["dup_ppm"] == (1_000_000 * r["dup_docs"]) // r["n_docs"]
        assert r["min_ttr_ppm"] <= r["max_ttr_ppm"]


def test_media_integrity_audit(spark):
    from iceberg_diag_spark.operators.multimodal import (
        MEDIA_MAGIC,
        media_integrity_audit,
    )
    from pyspark.sql import functions as F

    rows = [
        (0, "image", "89504E47"),   # valid PNG
        (1, "image", "DEADBEEF"),   # corrupt
        (2, "audio", "52494646"),   # valid RIFF
        (3, "audio", "52494646"),
        (4, "video", "00000018"),
        (5, "video", "FFFFFFFF"),   # corrupt
        (6, "image", "89504e47"),   # lowercase hex input -> same bytes
    ]
    media = spark.createDataFrame(
        rows, "doc_id long, media_type string, hdr string"
    ).select(
        "doc_id", "media_type",
        F.concat(F.unhex("hdr"), F.encode(F.lit("body"), "UTF-8"))
        .alias("payload"),
    )
    got = {r["media_type"]: r.asDict() for r in media_integrity_audit(media).collect()}
    assert got["image"]["n_items"] == 3
    assert got["image"]["n_valid"] == 2      # unhex is case-insensitive
    assert got["image"]["n_corrupt"] == 1
    assert got["image"]["example_corrupt_id"] == 1
    assert got["audio"]["n_corrupt"] == 0
    assert got["audio"]["example_corrupt_id"] is None
    assert got["video"]["corrupt_ppm"] == 500_000
    assert got["video"]["example_corrupt_id"] == 5
    assert all(
        r["n_valid"] + r["n_corrupt"] == r["n_items"] for r in got.values()
    )


def test_exact_quota_holdout_apportionment(spark):
    from iceberg_diag_spark.operators.sampling import exact_quota_holdout

    # strata sizes 7 / 5 / 3 (N=15), 40% holdout: T = floor(15*0.4)=6
    # ideal shares 2.8 / 2.0 / 1.2 -> bases 2/2/1 (sum 5), one spare
    # row goes to the largest remainder (0.8 -> stratum a)
    rows = (
        [(i, "a") for i in range(7)]
        + [(100 + i, "b") for i in range(5)]
        + [(200 + i, "c") for i in range(3)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = exact_quota_holdout(df, holdout_ppm=400_000).collect()
    by_stratum = {}
    for r in got:
        by_stratum.setdefault(r["stratum"], []).append(r)
    assert len(got) == 6  # exactly floor(15 * 0.4)
    assert {s: len(v) for s, v in by_stratum.items()} == {
        "a": 3, "b": 2, "c": 1
    }
    # pick_rank is 1..quota_s within each stratum
    for s, v in by_stratum.items():
        assert sorted(r["pick_rank"] for r in v) == list(
            range(1, len(v) + 1)
        )
    # determinism: a second run picks the identical membership
    again = exact_quota_holdout(df, holdout_ppm=400_000).collect()
    assert sorted(tuple(r) for r in got) == sorted(tuple(r) for r in again)


def test_exact_quota_holdout_total_always_exact(spark):
    from iceberg_diag_spark.operators.sampling import exact_quota_holdout

    import random

    rng = random.Random(13)
    rows = [
        (i, rng.choice(["s0", "s1", "s2", "s3", "s4"])) for i in range(137)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    for ppm in (50_000, 100_000, 333_333, 900_000):
        got = exact_quota_holdout(df, holdout_ppm=ppm).count()
        assert got == (137 * ppm) // 1_000_000, ppm


def test_exact_quota_holdout_keeps_null_stratum(spark):
    """A NULL stratum is one stratum: it counts toward the quotas, so
    its picks must survive the offset and quota joins, or the holdout
    falls short of floor(N·ppm/1e6)."""
    from iceberg_diag_spark.operators.sampling import exact_quota_holdout

    rows = [(i, None if i % 2 else "a") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = exact_quota_holdout(df, holdout_ppm=500_000).collect()
    assert len(got) == 20
    by_stratum = {}
    for r in got:
        by_stratum.setdefault(r["stratum"], []).append(r["pick_rank"])
    assert {s: sorted(v) for s, v in by_stratum.items()} == {
        "a": list(range(1, 11)), None: list(range(1, 11))
    }


def test_clone_pairs_verified_filters_by_edit_ratio(spark):
    from iceberg_diag_spark.operators.dedup import clone_pairs_verified

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [
        (0, base),
        (1, base + " extra"),                 # tiny edit -> survives
        (2, base.replace("beta", "XYZQ") +    # shares spans but big tail
            " completely different continuation words here now " * 3),
        (3, "unrelated text with no shared spans at all whatsoever"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = clone_pairs_verified(df, max_distance_ppm=200_000).collect()
    got = {(r["doc_a"], r["doc_b"]): r for r in rows}
    assert (0, 1) in got
    r01 = got[(0, 1)]
    assert r01["distance"] == len(" extra")
    assert r01["dist_ppm"] == (
        1_000_000 * len(" extra")
    ) // len(base + " extra")
    # the long-tail variant shares winnow spans with 0/1 but fails
    # the 20% edit-ratio verify
    assert all(2 not in pair for pair in got)
    assert all(3 not in pair for pair in got)


def test_clone_pairs_verified_refuses_hot_spot(spark):
    """The verifier's refusal valve: a document whose candidate-pair
    degree exceeds max_pairs_per_doc degrades to an explicit error —
    never a silent quadratic Levenshtein stage. Same corpus passes
    with the guard disabled."""
    import pytest

    from iceberg_diag_spark.operators.dedup import clone_pairs_verified

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    # every doc is a near-copy of every other: each participates in
    # n-1 candidate pairs, defeating a tiny per-doc cap
    docs = [(i, base + f" v{i}") for i in range(8)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    with pytest.raises(ValueError, match="candidate pairs"):
        clone_pairs_verified(df, max_pairs_per_doc=3)
    got = clone_pairs_verified(df, max_pairs_per_doc=None)
    assert got.count() == 8 * 7 // 2  # all unordered near-copy pairs


def test_user_activity_gini_matches_python_reference(spark):
    from iceberg_diag_spark.operators.events import user_activity_gini

    import random

    rng = random.Random(14)
    rows, eid = [], 0
    per_user = {u: rng.randrange(1, 30) for u in range(40)}
    per_user[99] = 500  # a dominating account
    for u, k in per_user.items():
        for _ in range(k):
            rows.append((eid, u, eid * 1_000, "e"))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_raw long, event_type string"
    ).selectExpr(
        "event_id", "user_id", "timestamp_micros(ts_raw) AS ts", "event_type"
    )
    row = user_activity_gini(ev).collect()[0]
    xs = sorted(per_user.values())
    n, t = len(xs), sum(xs)
    s = sum((i + 1) * x for i, x in enumerate(xs))
    want = (2 * s * 1_000_000 - (n + 1) * t * 1_000_000) // (n * t)
    assert row["n_users"] == n
    assert row["total_events"] == t
    assert row["max_user_events"] == 500
    assert row["gini_ppm"] == want
    # a dominating account must push concentration well up
    assert row["gini_ppm"] > 300_000


def test_user_activity_gini_uniform_is_zero(spark):
    from iceberg_diag_spark.operators.events import user_activity_gini

    rows = [(u * 3 + i, u, (u * 3 + i) * 1_000, "e")
            for u in range(10) for i in range(3)]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_raw long, event_type string"
    ).selectExpr(
        "event_id", "user_id", "timestamp_micros(ts_raw) AS ts", "event_type"
    )
    row = user_activity_gini(ev).collect()[0]
    assert row["gini_ppm"] == 0  # perfectly uniform
