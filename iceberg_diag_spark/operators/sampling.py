"""Deterministic sampling — the reproducibility primitive a training-
data pipeline needs: the same corpus snapshot must yield the same
sample on every engine, every run, every cluster size.

`rand()`-based sampling is none of those (seed × partitioning
dependent), so the samplers here key on a content-stable hash bucket:
md5 of the row key → first 8 hex digits → integer bucket. A row's
membership depends only on its key, which also makes samples STABLE
under corpus growth (adding rows never evicts old sample members) —
the property that lets a downstream eval set stay frozen while the
corpus doubles. The md5-integer idiom is the same cross-engine trick
as the MinHash family, so samples are oracle-checkable in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from iceberg_diag_spark.functions.parallel import (
    ensure_parallelism,
    join_null_safe,
    materialize,
)

# Columns and tuning constants of the operators below.
BUCKETS = 100
DOC_ID = "doc_id"
SOURCE = "source"


def hash_bucket(key: Column, buckets: int = 100) -> Column:
    """Stable bucket in [0, buckets) from the md5 of the key's string
    form. Uniform for any key type with a canonical string cast."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10)
        .cast("long")
        % buckets
    )


def member_hash60(key: Column, salt: str = "") -> Column:
    """60-bit stable hash of the key's string form: the first 15 md5
    hex digits parsed as an integer. 15 digits keep the value strictly
    below 2^60, so it is a non-negative signed BIGINT in every engine
    (16 digits would overflow into the sign bit differently per
    engine). `salt` derives independent hash functions from the same
    key — two salted hashes XOR-folded per group give a ~120-bit
    membership checksum with O(1) aggregation state (see
    membership_checksums), the scale-safe replacement for
    sort+concat+md5 membership digests whose per-group state grows
    with group size."""
    s = F.concat(F.lit(salt), key.cast("string")) if salt else key.cast("string")
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def membership_checksums(key: Column) -> list[Column]:
    """Order-insensitive exact-membership checksum aggregates for a
    group of distinct keys: bit_xor of two independently-salted 60-bit
    key hashes. Commutative and associative, so Spark computes them
    with map-side partial aggregation and O(1) per-group state — no
    collect_list, no per-group array, no concat of the whole
    membership. Identically expressible in DuckDB (bit_xor over the
    same '0x'||substr(md5) parse), so split/membership audits stay
    hash-checked cross-engine at any group size. Returns unaliased
    columns [xor1, xor2]; callers alias."""
    return [
        F.bit_xor(member_hash60(key)),
        F.bit_xor(member_hash60(key, salt="m2|")),
    ]


def membership_manifest(
    df: DataFrame,
    keys: list,
    member: Column,
    count: str,
    *extra: Column,
    digests: tuple[str, str] = ("members_xor", "members_xor2"),
) -> DataFrame:
    """The per-group membership ledger every written layout and
    membership audit vouches with, in one aggregate: grouped by
    ``keys`` (names or aliased Columns), (keys; count, *extra,
    digest1, digest2) — the digests are membership_checksums of
    ``member``."""
    x1, x2 = membership_checksums(member)
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias(count),
        *extra,
        x1.alias(digests[0]),
        x2.alias(digests[1]),
    )


def hash_sample(df: DataFrame, key_col: str, pct: int) -> DataFrame:
    """Keep rows whose hash bucket < pct — a deterministic ~pct%
    sample. Pure filter: pushes past everything Catalyst can push
    through, shuffles nothing."""
    if not 0 <= pct <= BUCKETS:
        raise ValueError(f"pct must be in [0, {BUCKETS}], got {pct}")
    return df.filter(hash_bucket(F.col(key_col)) < pct)


def split_assign(
    df: DataFrame,
    key_col: str,
    val_pct: int = 5,
    test_pct: int = 5,
) -> DataFrame:
    """Deterministic train/val/test assignment from the key's hash
    bucket: [0, test) → test, [test, test+val) → val, rest → train.
    Same stability contract as hash_sample — a document's split never
    changes as the corpus grows, so eval sets stay frozen across
    snapshots. Pure projection: no shuffle, prunes/pushes freely."""
    if val_pct + test_pct >= BUCKETS:
        raise ValueError("val_pct + test_pct must leave room for train")
    b = hash_bucket(F.col(key_col))
    return df.withColumn(
        "split",
        F.when(b < test_pct, F.lit("test"))
        .when(b < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train")),
    )


def per_stratum_cap(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    cap: int,
) -> DataFrame:
    """Cap each stratum (source/domain) at `cap` rows, chosen by
    md5-hash order of the key (deterministic, unbiased, stable under
    append). The canonical over-represented-domain guard in corpus
    assembly.

    Scale: expressed as row_number() <= cap so Spark's
    InferWindowGroupLimit rewrites it to a map-side WindowGroupLimit
    (partial top-k per input partition, then one k-row-per-group
    shuffle) — each executor forwards at most `cap` rows per stratum,
    never the full stratum. Adds a `rk` column (1-based hash rank)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(strata_col)
        .orderBy(F.md5(F.col(key_col).cast("string")), F.col(key_col))
    )
    return (
        df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= cap)
    )


def source_mixture_weights(
    df: DataFrame,
    strata_col: str = "source",
    weight_col: str = "n_chars",
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-weighted domain mixture (the multilingual-training
    sampling rule, weight_s ∝ mass_s^alpha): per stratum, the raw
    token mass, its share, and the alpha-flattened sampling share.
    alpha < 1 up-samples small domains, alpha = 1 is proportional.

    Shares are emitted as parts-per-million BIGINTs (floor) — exact
    cross-engine comparison; doubles at the ulp level are not.
    One groupBy (#strata rows) + an all-rows window over that tiny
    aggregate — post-agg cardinality is #domains, so the single-
    partition window is free at any input scale."""
    from pyspark.sql import Window

    counts = df.groupBy(strata_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(weight_col)).alias("mass"),
    )
    everything = Window.partitionBy()
    w_raw = F.pow(F.col("mass").cast("double"), F.lit(alpha))
    return counts.select(
        F.col(strata_col),
        F.col("n_docs"),
        F.col("mass"),
        F.floor(
            F.lit(1_000_000.0) * F.col("mass") / F.sum("mass").over(everything)
        ).cast("long").alias("share_ppm"),
        F.floor(
            F.lit(1_000_000.0) * w_raw / F.sum(w_raw).over(everything)
        ).cast("long").alias("sample_share_ppm"),
    )


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    rates: dict[str, int],
    strata_col: str,
    default_pct: int = 0,
) -> DataFrame:
    """Per-stratum sampling rates (e.g. rebalance languages: keep 10%
    of English, 100% of low-resource langs). `rates` maps stratum
    value → pct; strata absent from the map get default_pct. Still a
    single deterministic filter — no shuffle, no per-stratum passes."""
    pct_col: Column = F.lit(default_pct)
    for value, pct in sorted(rates.items()):
        if not 0 <= pct <= BUCKETS:
            raise ValueError(f"rate for {value!r} must be in [0, {BUCKETS}]")
        pct_col = F.when(F.col(strata_col) == value, pct).otherwise(pct_col)
    return df.filter(hash_bucket(F.col(key_col)) < pct_col)


def token_budget_waterfill(
    df: DataFrame,
    budget: int,
    strata_col: str = "source",
    weight_col: str = "n_chars",
) -> DataFrame:
    """Water-filling allocation of a fixed token budget across
    strata: every source contributes min(its mass, θ) where the water
    level θ is chosen so the allocations sum to `budget` — the
    standard "cap the huge domains, take the small ones whole" rule
    for assembling a training mix under a token target (a uniform
    share would starve big sources; proportional sampling lets one
    crawl dominate).

    θ has a closed form over the masses sorted ascending: with
    prefix sums P_k, the level is θ = (budget - P_{k-1}) / (n - k + 1)
    at the first rank k where that value is at most mass_k; if no
    rank qualifies the budget exceeds the corpus and every source is
    taken whole. No iteration — one aggregate to #strata rows, then
    windows over that tiny relation (single-partition by design:
    #domains rows, not #docs) and a broadcast of the 1-row θ scalar.

    Output: (source, mass, alloc_tokens, exhausted) — alloc_tokens
    floored to integers, exhausted = TRUE for sources taken whole.
    """
    from pyspark.sql import Window

    m = df.groupBy(strata_col).agg(
        F.sum(weight_col).cast("double").alias("mass")
    )
    order = Window.orderBy("mass", strata_col)
    everything = Window.partitionBy()
    d = (
        m.withColumn("rn", F.row_number().over(order))
        .withColumn(
            "prefix_before",
            F.coalesce(
                F.sum("mass").over(
                    order.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0.0),
            ),
        )
        .withColumn("n", F.count(F.lit(1)).over(everything))
        .withColumn(
            "theta_i",
            (F.lit(float(budget)) - F.col("prefix_before"))
            / (F.col("n") - F.col("rn") + 1),
        )
    )
    theta = (
        d.filter(F.col("theta_i") <= F.col("mass"))
        .agg(F.min(F.struct("rn", "theta_i")).alias("s"))
        .select(F.col("s.theta_i").alias("theta"))
    )
    return d.crossJoin(F.broadcast(theta)).select(
        F.col(strata_col),
        F.col("mass").cast("long").alias("mass"),
        F.floor(F.least(F.col("mass"), F.coalesce(F.col("theta"), F.col("mass"))))
        .cast("long")
        .alias("alloc_tokens"),
        (F.col("theta").isNull() | (F.col("mass") <= F.col("theta"))).alias(
            "exhausted"
        ),
    )


def weighted_hash_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
) -> DataFrame:
    """Deterministic WEIGHTED Bernoulli sample: row i is kept iff
    hash_bucket(key, 1e6) < min(1e6, floor(200000 · w_i /
    mean_w)) — inclusion probability proportional to weight (longer /
    higher-quality docs proportionally likelier), expected kept mass
    ≈ 20% of rows, and membership still a pure function
    of the key (reproducible on any engine, stable under partitioning,
    same row set every run — rand()-weighted sampling is none of
    those).

    Execution: one 1-row mean aggregate broadcast into a filter —
    no data-bearing shuffle; the predicate stays integer-exact
    cross-engine (integer-valued double sums below 2^53, floored
    threshold, integer hash compare)."""
    mean_w = df.agg(
        F.avg(F.col(weight_col).cast("double")).alias("__mw")
    )
    thresh = F.least(
        F.lit(1_000_000.0),
        F.floor(
            F.lit(200_000.0) * F.col(weight_col) / F.col("__mw")
        ),
    )
    return (
        df.crossJoin(F.broadcast(mean_w))
        .filter(hash_bucket(F.col(key_col), 1_000_000) < thresh)
        .drop("__mw")
    )


CURRICULUM_BANDS = (
    ("high", 600_000),
    ("mid", 300_000),
)


def curriculum_shards(docs: DataFrame, n_shards: int = 8) -> DataFrame:
    """Curriculum training-shard manifest: band every document by its
    quality-classifier score (high / mid / low — train easy-and-clean
    first, noisy last, the standard data-curriculum recipe), assign
    it a deterministic hash shard within the band, and emit the
    per-(band, shard) manifest a training loader consumes: doc and
    token counts plus each shard's share of its band in exact ppm.

    Composition of existing exact pieces — the classifier's integer
    z_micro (fixed-order arithmetic) for banding, md5-bucket hashing
    for shard assignment — so the whole manifest is hash-stable
    across engines and runs. No global sort: ordering is implied by
    (band_rank, shard), aggregation is one #bands×#shards-bounded
    hash-agg. Output: (band, band_rank, shard, n_docs, total_tokens,
    band_share_ppm).
    """
    from iceberg_diag_spark.operators.textops import (
        quality_classifier_score,
        tokens,
    )
    from pyspark.sql.window import Window

    scored = quality_classifier_score(docs).select(
        DOC_ID, "z_micro"
    )
    toks = docs.select(
        F.col(DOC_ID), F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    band = F.when(
        F.col("z_micro") >= CURRICULUM_BANDS[0][1],
        F.lit(CURRICULUM_BANDS[0][0]),
    ).when(
        F.col("z_micro") >= CURRICULUM_BANDS[1][1],
        F.lit(CURRICULUM_BANDS[1][0]),
    ).otherwise(F.lit("low"))
    band_rank = F.when(F.col("band") == "high", 0).when(
        F.col("band") == "mid", 1
    ).otherwise(2)
    assigned = (
        scored.join(toks, DOC_ID)
        .withColumn("band", band)
        .withColumn("band_rank", band_rank.cast("int"))
        .withColumn("shard", hash_bucket(F.col(DOC_ID), n_shards))
    )
    g = assigned.groupBy("band", "band_rank", "shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )
    w = Window.partitionBy("band")
    return g.select(
        "band",
        "band_rank",
        F.col("shard").cast("long").alias("shard"),
        "n_docs",
        "total_tokens",
        F.floor(
            F.col("n_docs") * F.lit(1_000_000) / F.sum("n_docs").over(w)
        )
        .cast("long")
        .alias("band_share_ppm"),
    )


def exact_quota_holdout(
    docs: DataFrame,
    holdout_ppm: int = 100_000,
    id_col: str = "doc_id",
    stratum_col: str = "source",
) -> DataFrame:
    """Exact-proportion stratified holdout via largest-remainder
    apportionment (the Hamilton method): the holdout gets EXACTLY
    floor(N·ppm/1e6) rows overall, distributed across strata so no
    stratum's share deviates from proportionality by more than one
    row — the property hash-threshold samplers (stratified_split)
    deliberately trade away for statelessness, and the one an
    eval-set builder actually wants ("exactly 10%, balanced").

    All apportionment arithmetic is exact integers: per-stratum base
    quota floor(n_s·ppm/1e6), remainders n_s·ppm − base·1e6, and the
    leftover T − Σbase rows go to the largest remainders (stratum
    name breaks ties). Membership is deterministic: the quota_s
    smallest md5(id) values win within each stratum — reproducible
    on any engine, no RNG.

    Distributed shape: the stratum-count aggregate and the
    apportionment act on ≤ |strata| rows (one rank window over a
    metadata-size relation). Membership does NOT use a per-stratum
    global window (that puts every row of a stratum in one task — a
    few dozen sources over 10^10 docs means a handful of tasks own
    the world): the md5 order key is range-sharded on its first hex
    digit (ascii('0'..'9','a'..'f') is monotone, so shard order ==
    key order), ranked within (stratum, shard) partitions — 16×
    |strata| tasks — and completed to the exact per-stratum rank by a
    broadcast of cumulative (stratum, shard) counts: the count mode of
    shuffling.grouped_prefix_sum. A NULL stratum is one stratum, as in
    the counts. Output is byte-identical to the single-window form:
    (doc_id, stratum, pick_rank).
    """
    from pyspark.sql.window import Window

    from iceberg_diag_spark.operators.shuffling import grouped_prefix_sum

    # three consumers (stratum counts, shard totals, the ranked base)
    keyed = materialize(
        ensure_parallelism(docs).select(
            F.col(id_col),
            F.col(stratum_col).alias("stratum"),
            F.md5(F.col(id_col).cast("string")).alias("__mh"),
        )
    )
    counts = keyed.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("long").alias("n_s")
    )
    totals = counts.agg(
        F.sum("n_s").cast("long").alias("n_total"),
        F.sum(
            F.expr(f"(n_s * {int(holdout_ppm)}) DIV 1000000")
        ).cast("long").alias("base_total"),
    )
    wrem = Window.orderBy(
        F.desc("rem"), F.asc("stratum")
    )  # |strata| rows — a single-partition window over metadata is fine
    quotas = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "stratum",
            "n_s",
            F.expr(f"(n_s * {int(holdout_ppm)}) DIV 1000000").alias("base"),
            F.expr(
                f"n_s * {int(holdout_ppm)}"
                f" - ((n_s * {int(holdout_ppm)}) DIV 1000000) * 1000000"
            ).alias("rem"),
            F.expr(
                f"(n_total * {int(holdout_ppm)}) DIV 1000000 - base_total"
            ).alias("spare"),
        )
        .withColumn("rk", F.row_number().over(wrem))
        .select(
            "stratum",
            (
                F.col("base")
                + F.when(F.col("rk") <= F.col("spare"), 1).otherwise(0)
            ).cast("long").alias("quota"),
        )
    )
    ranked = grouped_prefix_sum(keyed, ["stratum"], ["__mh", id_col])
    return (
        join_null_safe(ranked, F.broadcast(quotas), ["stratum"])
        .withColumn("pick_rank", (F.col("prefix") + 1).cast("long"))
        .filter(F.col("pick_rank") <= F.col("quota"))
        .select(id_col, "stratum", "pick_rank")
    )


def data_mixing_plan(df: DataFrame) -> DataFrame:
    """The release artifact a training run actually consumes: turn
    the temperature-weighted mixture (source_mixture_weights) into a
    concrete PER-SOURCE TOKEN PLAN for a fixed budget — here
    budget = total_mass · 1/2 — and audit each
    source's implied epoch count against the repeating-data rule
    (up-sampling a small domain past ~4 epochs stops helping and
    starts memorizing, hence the over_repeat flag; the planner's
    move is then to cap that source and re-spread the remainder —
    compare token_budget_waterfill, which is that capping rule).

    tokens_alloc_s = floor(budget · mass_s^α / Σ mass^α);
    epochs_ppm_s = floor(1e6 · tokens_alloc_s / mass_s). The α-power
    shares use the same double pow + single floor as
    source_mixture_weights (cross-engine stable there); all
    downstream arithmetic is integer.

    One groupBy to the #sources relation; windows run over that
    bounded aggregate (SCALING.md §5). Output per source: (source,
    mass, tokens_alloc, sample_share_ppm, epochs_ppm, over_repeat).
    """
    from pyspark.sql import Window

    counts = df.groupBy(SOURCE).agg(
        F.sum(F.col("n_chars")).cast("long").alias("mass")
    )
    everything = Window.partitionBy()
    w_raw = F.pow(F.col("mass").cast("double"), F.lit(0.5))
    budget = F.expr("CAST(sum(mass) OVER () * 1 DIV 2 AS BIGINT)")
    planned = counts.select(
        F.col(SOURCE),
        "mass",
        budget.alias("budget"),
        F.floor(
            budget.cast("double")
            * w_raw
            / F.sum(w_raw).over(everything)
        ).cast("long").alias("tokens_alloc"),
        F.floor(
            F.lit(1_000_000.0) * w_raw / F.sum(w_raw).over(everything)
        ).cast("long").alias("sample_share_ppm"),
    )
    return planned.select(
        SOURCE,
        "mass",
        "tokens_alloc",
        "sample_share_ppm",
        F.expr(
            "CAST(1000000 * tokens_alloc DIV greatest(mass, 1)"
            " AS BIGINT)"
        ).alias("epochs_ppm"),
        F.expr(
            "CAST(1000000 * tokens_alloc DIV greatest(mass, 1)"
            " AS BIGINT) > 4000000"
        ).alias("over_repeat"),
    )


def data_mixing_sample(df: DataFrame) -> DataFrame:
    """EXECUTE the data_mixing_plan — advisor-executing pattern #4
    (after sorted_rewrite, the tuned LSH banding, and the watermark
    recommendation): turn each source's token allocation into a
    concrete, deterministic document sample and audit the fill. The
    selector is the hash-prefix rule every reproducible sampler uses:
    order the source's docs by md5(id) (a fixed, data-independent
    shuffle — the exact_quota_holdout membership key) and take the
    prefix until the allocation is covered; the first overshooting
    document is INCLUDED, so tokens_selected ≥ tokens_alloc whenever
    the source has mass (fill_ppm ≥ 1e6 shows the overshoot, bounded
    by one document).

    Distributed shape: the per-source cumulative mass is
    shuffling.grouped_prefix_sum over the md5 key — its first
    character is an order-preserving range shard, the exclusive
    prefix completes within (source, shard) windows plus broadcast
    per-shard offset totals — never a one-task-per-source window.
    The plan relation joins broadcast (|sources| rows).

    Output per source: (source, tokens_alloc, n_docs_selected,
    tokens_selected, fill_ppm).
    """
    from iceberg_diag_spark.operators.shuffling import grouped_prefix_sum

    plan = data_mixing_plan(df).select(SOURCE, "tokens_alloc")
    keyed = ensure_parallelism(df).select(
        F.col(SOURCE),
        F.col(DOC_ID),
        F.col("n_chars").cast("long").alias("w"),
        F.md5(F.col(DOC_ID).cast("string")).alias("__k"),
    )
    pre = grouped_prefix_sum(
        keyed, [SOURCE], ["__k", DOC_ID], ["w"], ["__prefix"]
    )
    # null-safe: data_mixing_plan allocates to the NULL source too
    chosen = join_null_safe(pre, F.broadcast(plan), [SOURCE]).filter(
        F.col("__prefix") < F.col("tokens_alloc")
    )
    return (
        chosen.groupBy(SOURCE)
        .agg(
            F.max("tokens_alloc").cast("long").alias("tokens_alloc"),
            F.count(F.lit(1)).cast("long").alias("n_docs_selected"),
            F.sum("w").cast("long").alias("tokens_selected"),
        )
        .withColumn(
            "fill_ppm",
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * tokens_selected"
                " DIV greatest(tokens_alloc, 1) AS BIGINT)"
            ),
        )
    )
