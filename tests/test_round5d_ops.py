"""Known-answer tests for the round-5d operators: clustering
advisor (interval-sweep overlap stats), per-dimension embedding
variance, and the event Markov transition matrix."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from iceberg_diag_spark.operators.events import event_transitions
from iceberg_diag_spark.operators.maintenance import clustering_advisor
from iceberg_diag_spark.operators.similarity import dim_variance_audit


def test_clustering_advisor_exact_overlaps(spark):
    # col "a": [1,5], [3,9], [6,8] → pairs (1,2),(2,3) = 2; a point at
    # 6..8 hits files 2 and 3 → max_depth 2.
    # col "b": [1,2], [3,4], [5,6] → disjoint: 0 pairs, depth 1.
    # col "c": [1,10], [2,9], [3,8] → all nested: 3 pairs, depth 3.
    rows = []
    for fid, (lo, hi) in enumerate([(1, 5), (3, 9), (6, 8)], start=1):
        rows.append(("a", fid, lo, hi))
    for fid, (lo, hi) in enumerate([(1, 2), (3, 4), (5, 6)], start=1):
        rows.append(("b", fid, lo, hi))
    for fid, (lo, hi) in enumerate([(1, 10), (2, 9), (3, 8)], start=1):
        rows.append(("c", fid, lo, hi))
    fs = spark.createDataFrame(rows, "col_name string, file_id long, lo long, hi long")
    out = {r["col_name"]: r for r in clustering_advisor(fs).collect()}
    assert out["a"]["overlap_pairs"] == 2 and out["a"]["max_depth"] == 2
    assert out["b"]["overlap_pairs"] == 0 and out["b"]["max_depth"] == 1
    assert out["c"]["overlap_pairs"] == 3 and out["c"]["max_depth"] == 3
    assert all(r["n_files"] == 3 for r in out.values())
    # avg_depth_ppm = floor(1e6 * sum(depth+1) / 9): a → (1+2+2)/9,
    # b → 3/9, c → (1+2+3)/9
    assert out["a"]["avg_depth_ppm"] == 555_555
    assert out["b"]["avg_depth_ppm"] == 333_333
    assert out["c"]["avg_depth_ppm"] == 666_666


def test_clustering_advisor_touching_endpoints_overlap(spark):
    # Closed intervals: [1,5] and [5,9] share point 5 → 1 pair.
    fs = spark.createDataFrame(
        [("a", 1, 1, 5), ("a", 2, 5, 9)],
        "col_name string, file_id long, lo long, hi long",
    )
    row = clustering_advisor(fs).collect()[0]
    assert row["overlap_pairs"] == 1 and row["max_depth"] == 2


def test_dim_variance_dead_and_live_dims(spark):
    # dim 0 constant 0.5 → q=512 everywhere → var_q = 0.
    # dim 1 alternates ±0.5 → q ∈ {512, -512}: with n=4, s=0,
    # ss=4·512² → var_q = floor(4·4·512²/16) = 512² = 262144.
    vecs = [([0.5, 0.5],), ([0.5, -0.5],), ([0.5, 0.5],), ([0.5, -0.5],)]
    emb = spark.createDataFrame(vecs, "embedding array<float>")
    out = {r["pos"]: r for r in dim_variance_audit(emb).collect()}
    assert out[0]["var_q"] == 0
    assert out[0]["mean_q_ppm"] == 512_000_000
    assert out[1]["var_q"] == 262_144
    assert out[1]["mean_q_ppm"] == 0
    assert all(r["n_vecs"] == 4 for r in out.values())


def test_dim_variance_negative_mean_floor(spark):
    # q = floor(-0.3·1024) = -308 each → s = -924, n = 3:
    # mean_q_ppm = floor(-308e6) = -308000000 (floor, not truncate).
    emb = spark.createDataFrame(
        [([-0.3],), ([-0.3],), ([-0.3],)], "embedding array<float>"
    )
    row = dim_variance_audit(emb).collect()[0]
    assert row["mean_q_ppm"] == -308_000_000
    assert row["var_q"] == 0


def test_event_transitions_known_matrix(spark):
    t0 = datetime.datetime(2025, 1, 1)

    def ev(i, uid, typ):
        return (i, t0 + datetime.timedelta(minutes=i), uid, typ)

    # user 1: a→b→a ; user 2: a→b. Transitions: (a,b)×2, (b,a)×1.
    rows = [ev(1, 1, "a"), ev(2, 1, "b"), ev(3, 1, "a"),
            ev(4, 2, "a"), ev(5, 2, "b")]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = {(r["src"], r["dst"]): r for r in event_transitions(events).collect()}
    assert out[("a", "b")]["n_trans"] == 2
    assert out[("a", "b")]["n_users"] == 2
    assert out[("a", "b")]["prob_ppm"] == 1_000_000
    assert out[("b", "a")]["n_trans"] == 1
    assert out[("b", "a")]["n_users"] == 1
    assert out[("b", "a")]["prob_ppm"] == 1_000_000
    assert len(out) == 2


def test_event_transitions_prob_sums_to_one(spark):
    t0 = datetime.datetime(2025, 1, 1)
    rows = []
    i = 0
    # user 1 cycles a→b→c→a…; user 2 does a→c repeatedly.
    for uid, pattern in [(1, "abc" * 4), (2, "ac" * 5)]:
        for ch in pattern:
            rows.append((i, t0 + datetime.timedelta(seconds=i), uid, ch))
            i += 1
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = event_transitions(events)
    sums = (
        out.groupBy("src")
        .agg(F.sum("prob_ppm").alias("p"), F.count("*").alias("k"))
        .collect()
    )
    # floor-rounding loses < k ppm per src row.
    for r in sums:
        assert 1_000_000 - r["k"] < r["p"] <= 1_000_000


def test_source_tv_distance_known_value(spark):
    from iceberg_diag_spark.operators.textops import source_tv_distance

    docs = spark.createDataFrame(
        [(1, "x x y", "A"), (2, "x y y z", "B")],
        "doc_id long, text string, source string",
    )
    # p_A = (x:2/3, y:1/3, z:0), p_B = (x:1/4, y:2/4, z:1/4):
    # TV = (|2·4−1·3| + |1·4−2·3| + |0·4−1·3|) / (2·3·4) = 10/24.
    row = source_tv_distance(docs, vocab_size=16).collect()[0]
    assert (row["source_a"], row["source_b"]) == ("A", "B")
    assert row["n_tokens_a"] == 3 and row["n_tokens_b"] == 4
    assert row["tv_ppm"] == 416_666
    # Truncating the vocab folds y and z into the residual bucket:
    # A = (x:2, other:1), B = (x:1, other:3) → (5 + 5)/24 — same here.
    row1 = source_tv_distance(docs, vocab_size=1).collect()[0]
    assert row1["tv_ppm"] == 416_666


def test_source_tv_distance_identical_sources_zero(spark):
    from iceberg_diag_spark.operators.textops import source_tv_distance

    docs = spark.createDataFrame(
        [(1, "a b c", "A"), (2, "a b c", "B")],
        "doc_id long, text string, source string",
    )
    assert source_tv_distance(docs).collect()[0]["tv_ppm"] == 0



def _null_source_docs(spark, null_as=None):
    """40 docs over sources `a`, `b` and NULL (20 docs), or `null_as`
    in place of NULL."""
    rows = [
        (
            i,
            " ".join(f"w{(i * k) % 7}" for k in range(1, 2 + i % 4)),
            null_as if i % 2 else ("a" if i % 4 == 0 else "b"),
            (i * 7) % 13 + 1,
        )
        for i in range(40)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    )


def _null_source_metamorphic(spark, op, sentinel):
    """`op` over the NULL-source docs equals `op` over the same docs
    with NULL replaced by `sentinel`, mapped back to NULL."""
    def rows(df, null_as):
        return sorted(
            (tuple(None if v == null_as else v for v in r) for r in df.collect()),
            key=repr,
        )

    got = rows(op(_null_source_docs(spark)), None)
    want = rows(op(_null_source_docs(spark, sentinel)), sentinel)
    assert any(None in r for r in want)
    assert got == want


def test_source_tv_distance_keeps_null_source(spark):
    """The NULL source pairs with every other source and sorts first:
    equi-joins on the source and a plain `<` drop both of its pairs
    (1 row instead of 3)."""
    from iceberg_diag_spark.operators.textops import source_tv_distance

    _null_source_metamorphic(spark, source_tv_distance, "!null")


def test_source_length_ks_null_source_in_range(spark):
    """The NULL source's ECDF counts its own docs: an equi-join on the
    source leaves its cumulative count at 0, a KS distance of 2."""
    from iceberg_diag_spark.operators.textops import source_length_ks

    _null_source_metamorphic(spark, source_length_ks, "~null")


def test_template_clusters_count_null_source_once(spark):
    """A cluster of NULL-source docs has one source: a countDistinct
    on the source skips NULL and reports 0."""
    from iceberg_diag_spark.operators.textops import template_clusters

    def rows(null_as):
        return sorted(
            tuple(r)
            for r in template_clusters(
                _null_source_docs(spark, null_as)
            ).collect()
        )

    got = rows(None)
    assert got
    assert got == rows("~null")


def test_disorder_audit_known_lateness(spark):
    import datetime

    from iceberg_diag_spark.operators.events import disorder_audit

    t0 = datetime.datetime(2025, 1, 1)
    sec = datetime.timedelta(seconds=1)
    # arrival order (event_id) vs event time (seconds):
    #   1→100, 2→50 (50 s late), 3→200, 4→190 (10 s late)
    rows = [(1, t0 + 100 * sec, 1, "a", 0.0, "{}"),
            (2, t0 + 50 * sec, 1, "a", 0.0, "{}"),
            (3, t0 + 200 * sec, 2, "a", 0.0, "{}"),
            (4, t0 + 190 * sec, 2, "a", 0.0, "{}")]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = disorder_audit(events, late_threshold_us=20_000_000, n_shards=2)
    r = out.collect()[0]
    assert r["n_events"] == 4
    assert r["n_late"] == 1
    assert r["max_lateness_us"] == 50_000_000
    assert r["total_lateness_us"] == 60_000_000


def test_disorder_audit_matches_sequential_fold(spark):
    """Cross-check the sharded running-max against a plain Python
    fold over arrival order (many shards → prefix propagation is
    actually exercised)."""
    import datetime

    from iceberg_diag_spark.operators.events import disorder_audit

    t0 = datetime.datetime(2025, 1, 1)
    sec = datetime.timedelta(seconds=1)
    # deterministic pseudo-random event times
    times = [(i * 2654435761) % 1000 for i in range(200)]
    rows = [
        (i + 1, t0 + times[i] * sec, i % 7, "t" + str(i % 3), 0.0, "{}")
        for i in range(200)
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {
        r["event_type"]: r
        for r in disorder_audit(
            events, late_threshold_us=100_000_000, n_shards=16
        ).collect()
    }
    # sequential reference
    frontier = None
    agg = {}
    for i in range(200):
        ts_us = times[i] * 1_000_000
        late = max(0, (frontier - ts_us)) if frontier is not None else 0
        frontier = ts_us if frontier is None else max(frontier, ts_us)
        typ = "t" + str(i % 3)
        a = agg.setdefault(typ, [0, 0, 0, 0])
        a[0] += 1
        a[1] += 1 if late > 100_000_000 else 0
        a[2] = max(a[2], late)
        a[3] += late
    for typ, (n, nl, mx, tot) in agg.items():
        r = got[typ]
        assert (r["n_events"], r["n_late"], r["max_lateness_us"],
                r["total_lateness_us"]) == (n, nl, mx, tot)


def test_media_shard_plan_known_packing(spark):
    from iceberg_diag_spark.operators.multimodal import shard_plan

    # One media type, items of sizes 10,20,30,40 with target 45:
    # greedy sorted fold (check-before-append closes after exceeding):
    # 10+20+30 = 60 > 45 at next check → shard0 = [10,20,30*]? The
    # fold appends then closes when total > target BEFORE the next
    # append: 10 (10) → 20 (30) → 30 (60 > 45, still appended) →
    # close → 40 alone. So shard0 = 3 items / 60 bytes, shard1 = 1
    # item / 40 bytes.
    rows = [(i, "image", 0, s) for i, s in enumerate([10, 20, 30, 40])]
    media = spark.createDataFrame(
        rows, "doc_id long, media_type string, pad int, blen long"
    ).selectExpr(
        "doc_id", "media_type",
        "cast(null as binary) as payload",
        "named_struct('byte_len', blen, 'width', 0, 'height', 0,"
        " 'sample_rate', 0, 'n_frames', cast(0 as int)) as meta",
    )
    out = {r["shard_id"]: r for r in shard_plan(media, target_bytes=45).collect()}
    assert out[0]["n_items"] == 3 and out[0]["shard_bytes"] == 60
    assert out[1]["n_items"] == 1 and out[1]["shard_bytes"] == 40


def test_template_clusters_detects_shared_prefix(spark):
    from iceberg_diag_spark.operators.textops import template_clusters

    prefix = "error 404 page not found on this server please"
    rows = [
        (1, prefix + " alpha tail", "web", 0),
        (2, prefix + " totally different continuation here", "web", 0),
        (3, prefix + " yet another page body follows", "forum", 0),
        (4, "a unique document with its own opening words entirely", "web", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    )
    out = template_clusters(docs, prefix_tokens=8).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_docs"] == 3
    assert r["n_sources"] == 2
    assert r["example_doc_id"] == 1
    assert r["total_chars"] == sum(len(t) for _, t, _, _ in rows[:3])


def test_skip_simulation_closed_form_matches_materialized_sort(spark):
    """The after-layout stats are computed in closed form from
    per-value rank arithmetic; verify they equal ACTUALLY sorting the
    rows, cutting files of m rows, and running clustering_advisor's
    endpoint sweep on the resulting bounds."""
    from iceberg_diag_spark.operators.maintenance import (
        clustering_advisor,
        skip_simulation,
    )

    m = 8
    # two candidate columns with heavy value duplication (so values
    # straddle simulated file boundaries) and distinct shapes
    values = {
        "c1": [(i * 2654435761) % 17 for i in range(100)],
        "c2": [i % 5 for i in range(100)],
    }
    cv = spark.createDataFrame(
        [(c, v) for c, vs in values.items() for v in vs],
        "col_name string, v long",
    )
    # a fake "before" layout: files of 10 consecutive input rows
    fs_rows = []
    for c, vs in values.items():
        for f in range(10):
            chunk = vs[f * 10:(f + 1) * 10]
            fs_rows.append((c, f, min(chunk), max(chunk)))
    fs = spark.createDataFrame(
        fs_rows, "col_name string, file_id long, lo long, hi long"
    )
    got = {
        r["col_name"]: r
        for r in skip_simulation(cv, fs, rows_per_file=m).collect()
    }

    # materialize the sorted layout per column and sweep it
    for c, vs in values.items():
        sorted_vs = sorted(vs)
        bounds = []
        for f in range(0, (len(sorted_vs) + m - 1) // m):
            chunk = sorted_vs[f * m:(f + 1) * m]
            bounds.append((c, f, min(chunk), max(chunk)))
        bdf = spark.createDataFrame(
            bounds, "col_name string, file_id long, lo long, hi long"
        )
        ref = clustering_advisor(bdf).collect()[0]
        r = got[c]
        assert r["n_files"] == ref["n_files"], c
        assert r["overlap_pairs_after"] == ref["overlap_pairs"], c
        assert r["max_depth_after"] == ref["max_depth"], c
        assert r["avg_depth_ppm_after"] == ref["avg_depth_ppm"], c


def test_skip_simulation_perfectly_sorted_input_improves_to_disjoint(spark):
    from iceberg_diag_spark.operators.maintenance import skip_simulation

    # all-distinct values → after sorting, files are fully disjoint
    cv = spark.createDataFrame(
        [("c", v) for v in range(64)], "col_name string, v long"
    )
    # shuffled before-layout: interleaved bounds → heavy overlap
    fs = spark.createDataFrame(
        [("c", f, f, 56 + f) for f in range(8)],
        "col_name string, file_id long, lo long, hi long",
    )
    r = skip_simulation(cv, fs, rows_per_file=8).collect()[0]
    assert r["overlap_pairs_after"] == 0
    assert r["max_depth_after"] == 1
    assert r["overlap_pairs_before"] == 28  # all C(8,2) pairs overlap
    assert r["improvement_ppm"] < 1_000_000


def test_partition_advisor_balance_vs_skew(spark):
    from iceberg_diag_spark.operators.maintenance import partition_advisor

    # "uniform": 0..159 → every mod-16 bucket gets 10 rows (skew 1e6).
    # "skewed": 150 copies of one value + 10 distinct → one bucket
    # dominates.
    rows = [("uniform", v) for v in range(160)]
    rows += [("skewed", 7)] * 150 + [("skewed", v) for v in range(10)]
    cv = spark.createDataFrame(rows, "col_name string, v long")
    out = {
        (r["col_name"], r["transform"]): r
        for r in partition_advisor(cv).collect()
    }
    u = out[("uniform", "bucket16")]
    assert u["n_parts"] == 16
    assert u["max_part_rows"] == 10
    assert u["skew_ppm"] == 1_000_000
    s = out[("skewed", "bucket16")]
    # value 7 appears 151 times (150 + the distinct 7)
    assert s["max_part_rows"] == 151
    assert s["skew_ppm"] > 5_000_000
    # truncate on uniform 0..159 with width 1024 → single partition
    t = out[("uniform", "truncate1024")]
    assert t["n_parts"] == 1 and t["skew_ppm"] == 1_000_000


def test_kcore_star_vs_triangle(spark):
    from iceberg_diag_spark.operators.graph import kcore

    # star 1-{2,3,4} has NO 2-core; triangle 10-11-12 is one;
    # node 20 hangs off the triangle and peels away.
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (10, 11), (11, 12), (10, 12), (12, 20)],
        "doc_a long, doc_b long",
    )
    nodes = spark.createDataFrame(
        [(n,) for n in (1, 2, 3, 4, 10, 11, 12, 20, 99)], "doc_id long"
    )
    out = {r["doc_id"]: r["core_degree"] for r in kcore(nodes, edges).collect()}
    assert out == {10: 2, 11: 2, 12: 2}


def test_kcore_raises_when_rounds_too_small(spark):
    import pytest

    from iceberg_diag_spark.operators.graph import kcore

    # a long cycle with pendant chains: chain of length 12 peels one
    # node per round from each end — 1 round cannot stabilize it.
    chain = [(i, i + 1) for i in range(12)]
    edges = spark.createDataFrame(chain, "doc_a long, doc_b long")
    nodes = spark.createDataFrame([(n,) for n in range(13)], "doc_id long")
    with pytest.raises(RuntimeError):
        kcore(nodes, edges, k=2, rounds=1)


def test_padding_waste_known_values(spark):
    from iceberg_diag_spark.operators.packing import padding_waste_audit

    # 4 docs with 1, 2, 3, 4 tokens; batch_size=2.
    docs = spark.createDataFrame(
        [(1, "a"), (2, "a b"), (3, "a b c"), (4, "a b c d")],
        "doc_id long, text string",
    )
    out = {
        r["strategy"]: r
        for r in padding_waste_audit(docs, batch_size=2).collect()
    }
    total = 1 + 2 + 3 + 4
    # global max: everyone pads to 4 → 16 padded
    g = out["global_max"]
    assert g["total_tokens"] == total and g["padded_tokens"] == 16
    assert g["waste_ppm"] == (16 - total) * 1_000_000 // 16
    # pow2 floor bucket is 16 → everyone pads to 16 → 64
    p = out["pow2_bucket"]
    assert p["padded_tokens"] == 64
    # sorted batches of 2: [1,2]→2·2, [3,4]→2·4 → 12 padded
    s = out["sorted_batches"]
    assert s["padded_tokens"] == 12
    assert s["waste_ppm"] == (12 - total) * 1_000_000 // 12
    assert all(r["n_docs"] == 4 for r in out.values())


def test_watermark_advisor_known_drops(spark):
    import datetime

    from iceberg_diag_spark.operators.events import watermark_advisor

    t0 = datetime.datetime(2025, 1, 1)
    sec = datetime.timedelta(seconds=1)
    # arrival order: frontier hits 1000s at event 1; then events 5s,
    # 30s, 500s, 999.5s behind it.
    rows = [(1, t0 + 1000 * sec), (2, t0 + 995 * sec), (3, t0 + 970 * sec),
            (4, t0 + 500 * sec), (5, t0 + 0.5 * sec)]
    events = spark.createDataFrame(
        [(i, ts, 1, "a", 0.0, "{}") for i, ts in rows],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = {r["watermark_us"]: r for r in watermark_advisor(events).collect()}
    # lateness: 0, 5s, 30s, 500s, 999.5s
    assert out[1_000_000]["n_dropped"] == 4       # > 1 s late
    assert out[10_000_000]["n_dropped"] == 3      # > 10 s
    assert out[60_000_000]["n_dropped"] == 2      # > 60 s
    assert out[600_000_000]["n_dropped"] == 1     # > 600 s
    assert all(r["n_events"] == 5 for r in out.values())
    assert out[60_000_000]["drop_ppm"] == 400_000


def test_lsh_near_dup_exact_no_false_positives_and_recall(spark):
    import math
    import random

    from iceberg_diag_spark.operators.similarity import lsh_near_dup_exact

    rng = random.Random(3)
    # 30 clusters of 4 near-identical vectors + 80 random singletons
    vecs = []
    vid = 0
    for c in range(30):
        base = [rng.uniform(-1, 1) for _ in range(64)]
        for _ in range(4):
            vecs.append(
                (vid, [x + rng.uniform(-0.02, 0.02) for x in base])
            )
            vid += 1
    for _ in range(80):
        vecs.append((vid, [rng.uniform(-1, 1) for _ in range(64)]))
        vid += 1
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    got = {
        (r["vec_a"], r["vec_b"])
        for r in lsh_near_dup_exact(emb).collect()
    }

    # exact ground truth under the SAME integer semantics
    import struct

    def as_f32(x):
        return struct.unpack("f", struct.pack("f", x))[0]

    qs = {
        i: [math.floor(as_f32(x) * 256.0) for x in v] for i, v in vecs
    }
    truth = set()
    ids = sorted(qs)
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            qa, qb = qs[ids[a]], qs[ids[b]]
            d = sum(x * y for x, y in zip(qa, qb))
            na2 = sum(x * x for x in qa)
            nb2 = sum(x * x for x in qb)
            if d > 0 and 400 * d * d >= 81 * na2 * nb2:
                truth.add((ids[a], ids[b]))
    # exact verification ⇒ every reported pair is true
    assert got <= truth
    # clustered pairs are high-cosine → multi-table recall is high
    assert len(truth) > 0
    assert len(got) / len(truth) >= 0.8


def test_user_typicality_flags_rare_walker(spark):
    import datetime

    from iceberg_diag_spark.operators.events import user_transition_typicality

    t0 = datetime.datetime(2025, 1, 1)

    rows = []
    i = 0
    # 9 "normal" users cycle a->b->c; user 99 takes the rare a->c
    # shortcut (1 occurrence of a->c vs 18 of a->b from state a).
    for uid in range(9):
        for ch in "abc" * 2:
            rows.append((i, t0 + datetime.timedelta(seconds=i), uid, ch))
            i += 1
    rows.append((i, t0 + datetime.timedelta(seconds=i), 99, "a")); i += 1
    rows.append((i, t0 + datetime.timedelta(seconds=i), 99, "c")); i += 1
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    out = {r["user_id"]: r for r in user_transition_typicality(events).collect()}
    # normal users' transitions are the corpus majority → high ppm;
    # user 99's single b->a edge is rare → lowest mean
    rare = out[99]["mean_prob_ppm"]
    assert all(out[u]["mean_prob_ppm"] > rare for u in range(9))
    assert out[99]["n_transitions"] == 1


def test_part_affinity_exact_lift(spark):
    from iceberg_diag_spark.operators.profiling import part_affinity

    # 4 orders: parts 1,2 always together (3 orders); part 3 alone.
    rows = []
    for ok, parts in [(10, [1, 2]), (20, [1, 2]), (30, [1, 2, 3]), (40, [3])]:
        for i, pk in enumerate(parts):
            rows.append((ok, pk, i + 1, 1.0))
    li = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_linenumber int, l_extendedprice double",
    )
    out = part_affinity(li, min_co_orders=2).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["part_a"], r["part_b"]) == (1, 2)
    assert r["co_orders"] == 3 and r["orders_a"] == 3 and r["orders_b"] == 3
    # lift = 3·4/(3·3) = 4/3 → 1_333_333 ppm
    assert r["lift_ppm"] == 1_333_333
