"""Similarity search and embedding audits over array<float> columns.

Two tiers:
- Float validation tier (cosine_topk, embedding_near_dup, lsh_topk,
  lsh_near_dup_pairs, ivf_topk): double dot products, seeded float
  hyperplanes or MLlib KMeans. Results are engine-private, so these
  are checked by recall against brute force, not by hash oracles.
- Exact tier (lsh_*_exact, ivf_*, ann_recall_eval,
  retrieval_rank_eval, hard_negative_mining, matryoshka_audit,
  embedding_consistency_audit and the integer audits): every result
  is integer-deterministic and hash-matched against DuckDB. Its ANN
  pipeline is four stages, each written once below:
  1. quantize: `_quantize` puts every component on the grid
     floor(x·2^scale_bits); `_quantized` adds the squared norm n2,
     one fold per vector.
  2. candidates: the generators differ — brute force over a
     broadcast query panel (`_panel_topk`), sign-LSH bucket tables
     (`_exact_bucketed` + `_bucket_pairs`), IVF cells ranked by exact
     integer d² (`_cells_sorted_expr`), or pairs inside one cell.
     Generators move ids; `_rejoin_score` joins the quantized
     vectors back.
  3. score: `_cos_mppm` = floor(1e6·d/(√na2·√nb2)), the one float
     step, with the operand order the oracles spell.
  4. top-K: `_topk` keeps the k best rows per query by (score desc,
     neighbor asc), a total order; the filter on row_number compiles
     to a per-task WindowGroupLimit. `_both_ways` feeds it both
     orientations of pairs scored once.

Dot products use zip_with + aggregate — JVM higher-order functions,
no Python in the loop.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, functions as F

from iceberg_diag_spark.functions.parallel import ensure_parallelism, materialize
from iceberg_diag_spark.operators.sampling import membership_manifest
from iceberg_diag_spark.sources.sinks import (
    check_manifest,
    write_assigned_shards,
)

# Columns and tuning constants of the operators below.
DIM = 64
DOC_ID = "doc_id"
EMBEDDING = "embedding"
HALF_RANGE = 256
LABEL = "label"
N_LISTS = 16
N_PLANES = 8
N_SUB = 8
N_TABLES = 8
PREFIX_DIMS = (8, 16, 32, 48, 64)
QUERY_MOD = 100
SCALE_BITS = 8
SIGMAS = 3
THRESHOLD_DEN = 20
THRESHOLD_NUM = 9
VEC_ID = "vec_id"


def dot(a: Column, b: Column) -> Column:
    """Σ a[i]*b[i] as double — left-to-right fold, deterministic."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def int_dot(a: Column, b: Column) -> Column:
    """Σ a[i]·b[i] over integer arrays as an exact long fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _quantize_value(x: Column, scale_bits: int) -> Column:
    """floor(x·2^scale_bits) as a long: the exact tier's one grid.
    Widening float to double and scaling by a power of two are exact,
    and floor is deterministic, so every engine lands on the same
    integer."""
    return F.floor(x.cast("double") * (1 << scale_bits)).cast("long")


def _quantize(vec: Column, scale_bits: int) -> Column:
    """Every component of an array column on the `_quantize_value` grid."""
    return F.transform(vec, lambda x: _quantize_value(x, scale_bits))


def _quantized(
    df: DataFrame, scale_bits: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id_col, q, n2): quantized vectors with their squared norm,
    one fold per VECTOR rather than one per candidate pair."""
    return df.select(
        F.col(id_col), _quantize(F.col(vec_col), scale_bits).alias("q")
    ).select(id_col, "q", int_dot(F.col("q"), F.col("q")).alias("n2"))


def _cos_mppm(d: Column, na2: str | Column, nb2: str | Column) -> Column:
    """Exact-tier cosine in millionths: floor(1e6·d / (√na2·√nb2)).
    d and the squared norms are exact integers; IEEE sqrt and divide
    are correctly rounded single operations, so with this operand
    order (the one the DuckDB oracles spell) the result is
    bit-identical across engines. A zero norm yields NULL here and
    inf in DuckDB: each caller filters or maps zero norms first."""
    return F.floor(
        F.lit(1_000_000.0) * d / (F.sqrt(na2) * F.sqrt(nb2))
    ).cast("long")


def _topk(
    scored: DataFrame,
    k: int,
    score: str = "cos_mppm",
    query: str = "query_id",
    neighbor: str = "neighbor_id",
    rank: str = "rank",
    desc: bool = True,
) -> DataFrame:
    """The k best rows per `query`, ranked by (score desc, neighbor
    asc) — a total order, so the kept set is the same on any engine —
    with `rank` (1-based, long) added. desc=False ranks ascending
    (nearest cells, argmin assignment). The filter sits directly on
    the row_number column, which lets InferWindowGroupLimit plan a
    per-task WindowGroupLimit below the exchange: only k rows per
    (query, task) shuffle."""
    from pyspark.sql.window import Window

    order = F.desc(score) if desc else F.asc(score)
    w = Window.partitionBy(query).orderBy(order, F.asc(neighbor))
    return (
        scored.withColumn(rank, F.row_number().over(w))
        .filter(F.col(rank) <= k)
        .withColumn(rank, F.col(rank).cast("long"))
    )


def _both_ways(
    pairs: DataFrame, query: str = "query_id", neighbor: str = "neighbor_id"
) -> DataFrame:
    """Unordered pairs (vec_a, vec_b, cos_mppm), each scored once, as
    both (query, neighbor) orientations for a per-query ranking. Reads
    `pairs` twice: the caller pins it."""
    return pairs.select(
        F.col("vec_a").alias(query), F.col("vec_b").alias(neighbor), "cos_mppm"
    ).unionAll(
        pairs.select(
            F.col("vec_b").alias(query),
            F.col("vec_a").alias(neighbor),
            "cos_mppm",
        )
    )


def _rejoin_score(
    cand: DataFrame,
    base: DataFrame,
    a: str,
    b: str,
    id_col: str,
    keep: Column | None = None,
) -> DataFrame:
    """Score id pairs (a, b) of `cand` by exact integer cosine: the
    quantized vectors of `base` = (id_col, q, n2) join back by id on
    both sides, so candidate generation and its dedup exchange move
    ids only. `keep` filters on (d, na2, nb2) before scoring; the
    default drops zero-norm sides (no direction: 0/0 is NaN, and
    CAST(NaN AS BIGINT) errors on some engines). Output:
    (a, b, cos_mppm)."""
    qa = base.select(
        F.col(id_col).alias(a), F.col("q").alias("qa"), F.col("n2").alias("na2")
    )
    qb = base.select(
        F.col(id_col).alias(b), F.col("q").alias("qb"), F.col("n2").alias("nb2")
    )
    if keep is None:
        keep = (F.col("na2") > 0) & (F.col("nb2") > 0)
    return (
        cand.join(qa, a)
        .join(qb, b)
        .select(a, b, int_dot(F.col("qa"), F.col("qb")).alias("d"), "na2", "nb2")
        .filter(keep)
        .select(a, b, _cos_mppm(F.col("d"), "na2", "nb2").alias("cos_mppm"))
    )


def _panel_topk(
    base: DataFrame, id_col: str, query_mod: int, k: int
) -> DataFrame:
    """Exact brute-force top-k ground truth for the query panel — the
    deterministic 1/query_mod id-sample (id % query_mod = 0) of `base`
    = (id_col, q, n2), zero norms already removed — against all of
    `base`. The panel broadcasts, so the corpus streams through a
    nested-loop join once and the work is O(N·Q), never all-pairs.
    Output: (query_id, neighbor_id, cos_mppm, rank)."""
    panel = base.filter(F.col(id_col) % query_mod == 0).select(
        F.col(id_col).alias("query_id"),
        F.col("q").alias("qq"),
        F.col("n2").alias("qn2"),
    )
    scored = (
        base.crossJoin(F.broadcast(panel))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            _cos_mppm(int_dot(F.col("q"), F.col("qq")), "n2", "qn2").alias(
                "cos_mppm"
            ),
        )
    )
    return _topk(scored, k)


# Above this corpus size the exact quadratic tiers refuse to run:
# O(n²) dot products stop being a validation tool and become a
# scale accident. The bucketed siblings (lsh_near_dup_pairs /
# lsh_topk / ivf_topk) are the intended path beyond it.
QUADRATIC_GUARD_ROWS = 100_000


def _guard_quadratic(
    embeddings: DataFrame, op: str, alternative: str, max_rows: int | None
) -> None:
    if max_rows is None:
        return
    # Bounded probe: limit(max_rows+1) lets the scan stop as soon as
    # the threshold is crossed instead of executing the full upstream
    # plan (which for curated inputs repeats the whole curation
    # pipeline) just to learn the exact count we don't need.
    n = embeddings.limit(max_rows + 1).count()
    if n > max_rows:
        raise ValueError(
            f"{op}: corpus exceeds {max_rows} rows; this exact tier is "
            f"O(n²) and meant for validation scale — use {alternative}, or "
            "pass max_corpus_rows=None to force the exact computation"
        )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame | None = None,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_corpus_rows: int | None = QUADRATIC_GUARD_ROWS,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    queries defaults to the corpus itself (all-pairs kNN) — that form
    is guarded by max_corpus_rows and raises beyond it, routing
    callers to lsh_topk / ivf_topk (with an explicit bounded query
    set the work is |queries|·|corpus| and needs no guard).
    Output: (query_id, neighbor_id, rank, cos_sim rounded to 6).
    """
    if queries is None:
        _guard_quadratic(
            embeddings, "cosine_topk", "lsh_topk or ivf_topk", max_corpus_rows
        )
    corpus = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("n_vec")
    )
    qs = (queries if queries is not None else embeddings).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    pairs = corpus.crossJoin(F.broadcast(qs)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("q_vec"), F.col("n_vec")).alias("cos_sim"),
    )
    return _topk(scored, k, "cos_sim").select(
        "query_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_sim")
    )


def embedding_near_dup(
    embeddings: DataFrame,
    threshold: float = 0.45,
    max_corpus_rows: int | None = QUADRATIC_GUARD_ROWS,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a, b) with a < b
    and cosine >= threshold. Output: (vec_a, vec_b, cos_sim rounded 6).

    This exact variant is O(n²) dot products with a broadcast of one
    side — correct and oracle-checkable at validation scale, and
    guarded by max_corpus_rows so it cannot be pointed at a full
    corpus by accident. The 100 TB path is lsh_near_dup_pairs: the
    same threshold filter applied within sign-LSH buckets, dropping
    the pair count from quadratic to per-bucket-quadratic.
    """
    _guard_quadratic(
        embeddings, "embedding_near_dup", "lsh_near_dup_pairs", max_corpus_rows
    )
    a = embeddings.select(F.col(VEC_ID).alias("vec_a"), F.col(EMBEDDING).alias("va"))
    b = embeddings.select(F.col(VEC_ID).alias("vec_b"), F.col(EMBEDDING).alias("vb"))
    pairs = a.crossJoin(F.broadcast(b)).filter(F.col("vec_a") < F.col("vec_b"))
    return (
        pairs.select(
            "vec_a", "vec_b", cosine(F.col("va"), F.col("vb")).alias("cos_raw")
        )
        .filter(F.col("cos_raw") >= threshold)
        .select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cos_sim"))
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic unit-ish hyperplanes for sign-LSH."""
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: one bit per hyperplane (sign of the dot
    product), packed into a long. Pure column expression."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array([F.lit(float(x)) for x in p])
        bit = F.when(
            dot(vec, plane) >= 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        bucket = bucket.bitwiseOR(bit)
    return bucket


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame | None = None,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF approximate kNN — the classic coarse-quantizer scale path:

    1. TRAIN: KMeans (seeded) clusters the corpus into n_lists cells.
    2. INDEX: each vector is assigned to its nearest centroid — the
       'inverted list' it lives in (one shuffle, done once; in a real
       deployment this materializes as a `list_id`-partitioned table).
    3. SEARCH: each query scores only the n_probe nearest cells, so
       the candidate set is ~n_probe/n_lists of the corpus instead of
       all of it. Centroids are model state (n_lists × dim floats) —
       broadcast as literals, never a shuffle.

    Output: (query_id, neighbor_id, rank, cos_sim). Approximate:
    recall is tested against exact brute force, not hash-matched.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    ds = embeddings.select(
        F.col(VEC_ID),
        F.col(EMBEDDING),
        array_to_vector(F.col(EMBEDDING).cast("array<double>")).alias("features"),
    )
    model = KMeans(k=n_lists, seed=42, featuresCol="features").fit(ds)
    assigned = model.transform(ds).select(
        F.col(VEC_ID).alias("neighbor_id"),
        F.col(EMBEDDING).alias("n_vec"),
        F.col("prediction").alias("list_id"),
    )

    cent_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("list_id"),
                F.array(*[F.lit(float(x)) for x in c]).alias("centroid"),
            )
            for i, c in enumerate(model.clusterCenters())
        ]
    )
    qs = (queries if queries is not None else embeddings).select(
        F.col(VEC_ID).alias("query_id"), F.col(EMBEDDING).alias("q_vec")
    )
    # squared euclidean to each centroid (same metric KMeans assigns
    # by), keep the n_probe nearest lists per query
    d2 = F.aggregate(
        F.zip_with(
            F.col("q_vec"),
            F.col("c.centroid"),
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    probes = _topk(
        qs.select(
            "query_id", "q_vec", F.explode(cent_structs).alias("c")
        ).withColumn("d2", d2),
        n_probe, "d2", neighbor="c.list_id", rank="pr", desc=False,
    ).select("query_id", "q_vec", F.col("c.list_id").alias("list_id"))

    pairs = probes.join(assigned, "list_id").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("q_vec"), F.col("n_vec")).alias("cos_sim"),
    )
    return _topk(scored, k, "cos_sim").select(
        "query_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_sim")
    )


def lsh_candidates(embeddings: DataFrame) -> DataFrame:
    """Multi-table sign-LSH candidate pairs (query_id < neighbor_id
    ordering NOT applied — both directions emitted for top-k use;
    `.distinct()`-ed so each direction appears once).

    Collision prob for angle θ: 1-(1-(1-θ/π)^4)^16 — the 4 planes
    set bucket selectivity (cost), the 16 tables buy recall back.
    Sign-LSH is a NEAR-DUP instrument: at cos ≥ 0.45 these
    settings give >95% recall; weakly-similar neighbors (cos ≈ 0.3)
    are fundamentally below its resolution — use ivf_topk for
    generic kNN."""
    bucket_structs = F.array(
        *[
            F.struct(
                F.lit(t).alias("table_id"),
                lsh_bucket(
                    F.col(EMBEDDING), random_hyperplanes(DIM, 4, 42 + t)
                ).alias("bucket"),
            )
            for t in range(16)
        ]
    )
    bucketed = embeddings.select(
        F.col(VEC_ID), F.explode(bucket_structs).alias("b")
    ).select(VEC_ID, "b.table_id", "b.bucket")
    a = bucketed.select("table_id", "bucket", F.col(VEC_ID).alias("query_id"))
    b = bucketed.select("table_id", "bucket", F.col(VEC_ID).alias("neighbor_id"))
    return (
        a.join(b, ["table_id", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )


def _rejoin_cosine(
    cand: DataFrame, embeddings: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Float-tier scoring of (query_id, neighbor_id) candidates: the
    raw vectors join back by id on both sides, so candidate dedup
    moves ids only. Output: (query_id, neighbor_id, cos_sim)."""
    vq = embeddings.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    vn = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("n_vec")
    )
    return (
        cand.join(vq, "query_id")
        .join(vn, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("q_vec"), F.col("n_vec")).alias("cos_sim"),
        )
    )


def lsh_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.45,
) -> DataFrame:
    """The 100 TB path for embedding_near_dup: cosine-threshold pairs
    restricted to LSH candidates, so the pair count is per-bucket-
    quadratic instead of corpus-quadratic. Same output contract as
    embedding_near_dup (vec_a < vec_b, cos_sim ≥ threshold) minus the
    LSH-missed tail (recall pinned in tests/test_similarity.py)."""
    cand = lsh_candidates(
        embeddings
    ).filter(F.col("query_id") < F.col("neighbor_id"))
    return (
        _rejoin_cosine(cand, embeddings, VEC_ID, EMBEDDING)
        .filter(F.col("cos_sim") >= threshold)
        .select(
            F.col("query_id").alias("vec_a"),
            F.col("neighbor_id").alias("vec_b"),
            F.round("cos_sim", 6).alias("cos_sim"),
        )
    )


def lsh_topk(embeddings: DataFrame, k: int = 5) -> DataFrame:
    """Approximate all-pairs kNN via multi-table sign-LSH: 16
    independent hash tables of 4 sign bits each; vectors
    colliding in ANY table become candidates (distinct-ed before
    scoring so each pair is scored once).

    A neighbor at angle θ collides in one table with prob
    (1-θ/π)^4, across tables 1-(1-p)^16 — see
    lsh_candidates for the cost/recall model and its near-dup-grade
    resolution caveat (generic weak-neighbor kNN wants ivf_topk)."""
    cand = lsh_candidates(embeddings)
    scored = _rejoin_cosine(cand, embeddings, VEC_ID, EMBEDDING)
    return _topk(scored, k, "cos_sim").select(
        "query_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_sim")
    )


def label_centroid_stats(embeddings: DataFrame) -> DataFrame:
    """Per-label embedding geometry: vector count, mean L2 norm, and
    the norm of the label centroid — the collapse/drift audit run on
    embedding drops (a centroid norm near the mean norm signals a
    degenerate, single-direction cluster).

    One posexplode feeds both aggregates: per-vector norms (grouped
    by vector, then averaged per label) and per-dimension means
    (grouped by (label, pos), then re-normed). Everything is
    JVM-side; state per group is one double per dimension — no
    vectors ever collect to the driver. Output:
    (label, n_vecs, avg_norm, centroid_norm)."""
    exploded = embeddings.select(
        F.col(LABEL).alias("label"),
        F.col("vec_id"),
        F.posexplode(F.col(EMBEDDING)).alias("pos", "val"),
    ).withColumn("val", F.col("val").cast("double"))
    per_vec = exploded.groupBy("label", "vec_id").agg(
        F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("norm")
    )
    norms = per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("norm"), 6).alias("avg_norm"),
    )
    centroid = (
        exploded.groupBy("label", "pos")
        .agg(F.avg("val").alias("mean_val"))
        .groupBy("label")
        .agg(
            F.round(
                F.sqrt(F.sum(F.col("mean_val") * F.col("mean_val"))), 6
            ).alias("centroid_norm")
        )
    )
    return norms.join(centroid, "label")


def nearest_centroid_confusion(embeddings: DataFrame) -> DataFrame:
    """Nearest-centroid classification audit: compute each label's
    centroid, assign every vector to its nearest centroid (squared
    euclidean; ties broken by smaller predicted label), and emit the
    confusion counts (label, predicted, n_vecs). The standard
    label-noise / cluster-separability check run before training on a
    labeled embedding drop.

    Execution: one posexplode feeds a per-(label, pos) centroid
    aggregate (#labels × dim rows — tiny), which joins back on `pos`
    alone, so each vector row meets every centroid's coordinate for
    that dimension; summing (val - c)^2 per (vec, candidate) yields
    all #labels distances in a single shuffle-free-after-join pass.
    Catalyst broadcasts the centroid side (#labels × dim rows). The
    argmin is the shared `_topk` with k=1 (ascending), which
    InferWindowGroupLimit turns into a map-side group limit.
    Everything stays JVM-side; nothing but the final #labels²
    confusion rows leaves the executors."""
    ex = embeddings.select(
        F.col("vec_id"),
        F.col(LABEL).alias("label"),
        F.posexplode(F.col(EMBEDDING)).alias("pos", "val"),
    ).withColumn("val", F.col("val").cast("double"))
    centroids = ex.groupBy(
        F.col("label").alias("cand"), F.col("pos")
    ).agg(F.avg("val").alias("c"))
    dists = (
        ex.join(F.broadcast(centroids), "pos")
        .groupBy("vec_id", "label", "cand")
        .agg(F.sum((F.col("val") - F.col("c")) ** 2).alias("d2"))
        # rank on micro-unit-quantized distance, not raw doubles:
        # centroid averages and d2 sums differ at the ulp level across
        # engines (summation order, libm), so a near-equidistant
        # vector could flip `predicted` under a raw-double ordering;
        # after floor-to-micro the `cand` tie-break resolves quantized
        # ties identically everywhere
        .withColumn("d2q", F.floor(F.col("d2") * F.lit(1_000_000.0)).cast("long"))
    )
    assigned = _topk(
        dists, 1, "d2q", query="vec_id", neighbor="cand", rank="rn", desc=False
    )
    return (
        assigned.groupBy("label", F.col("cand").alias("predicted"))
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


def label_silhouette(embeddings: DataFrame) -> DataFrame:
    """Centroid-silhouette separability audit: per label, the mean
    squared distance of its vectors to their OWN centroid vs to the
    NEAREST OTHER centroid, and the ratio — the one-table answer to
    "are these labels separable enough to train on" (ratio near 1e6
    ⇒ clusters overlap; small ⇒ tight and separated). The
    centroid-based simplification of the silhouette coefficient:
    O(n·k) distances instead of O(n²) pairwise.

    Same execution skeleton as nearest_centroid_confusion (posexplode
    → tiny centroid aggregate → broadcast join on pos → one
    per-(vec, cand) sum), distances quantized to micro-units before
    any comparison or mean so ulp-level drift can't flip the nearest-
    other pick or the floor of the means across engines. Output:
    (label, n_vecs, mean_own_d2q, mean_other_d2q, sep_ratio_ppm).
    """
    ex = embeddings.select(
        F.col("vec_id"),
        F.col(LABEL).alias("label"),
        F.posexplode(F.col(EMBEDDING)).alias("pos", "val"),
    ).withColumn("val", F.col("val").cast("double"))
    centroids = ex.groupBy(
        F.col("label").alias("cand"), F.col("pos")
    ).agg(F.avg("val").alias("c"))
    dists = (
        ex.join(F.broadcast(centroids), "pos")
        .groupBy("vec_id", "label", "cand")
        .agg(F.sum((F.col("val") - F.col("c")) ** 2).alias("d2"))
        .withColumn("d2q", F.floor(F.col("d2") * F.lit(1_000_000.0)).cast("long"))
    )
    # own and nearest-other distances fold in ONE conditional
    # aggregate over the per-(vec, cand) relation — the previous
    # own⋈other self-join consumed `dists` twice, replaying the
    # posexplode + centroid join + d2 aggregate subtree per side.
    # The not-null filter keeps the inner-join semantics (a corpus
    # with a single label has no "other" centroid and emits nothing).
    j = (
        dists.groupBy("vec_id", "label")
        .agg(
            F.min(
                F.when(F.col("cand") == F.col("label"), F.col("d2q"))
            ).alias("own_d2q"),
            F.min(
                F.when(F.col("cand") != F.col("label"), F.col("d2q"))
            ).alias("other_d2q"),
        )
        .filter(
            F.col("own_d2q").isNotNull() & F.col("other_d2q").isNotNull()
        )
    )
    return j.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.floor(F.avg("own_d2q")).cast("long").alias("mean_own_d2q"),
        F.floor(F.avg("other_d2q")).cast("long").alias("mean_other_d2q"),
        F.floor(
            F.lit(1_000_000.0) * F.avg("own_d2q") / F.avg("other_d2q")
        ).cast("long").alias("sep_ratio_ppm"),
    )


def quantize_embeddings_int8(embeddings: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 quantization — the memory-bandwidth
    lever for serving ANN over billions of vectors (4× smaller than
    float32, SIMD-friendly dot products). q_i = floor(v_i · 127 /
    max|v|), scale emitted as floor-ppm of max|v| so reconstruction
    is auditable.

    Pure array expressions (transform/aggregate) over the vector
    column — zero shuffle, zero Python; the quantized payload is
    checksummed (md5 of the comma-joined ints) so an oracle can
    verify exact cell-level equality without hauling arrays around.
    Output: (vec_id, dim, scale_ppm, q_checksum)."""
    v = F.col(EMBEDDING)
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    # all-zero vectors quantize to zeros (the x/0 branch would be
    # engine-divergent: NULL here, inf in DuckDB)
    q = F.transform(
        v,
        lambda x: F.when(max_abs == 0, F.lit(0).cast("long")).otherwise(
            F.floor(x.cast("double") * F.lit(127.0) / max_abs).cast("long")
        ),
    )
    return embeddings.select(
        F.col("vec_id"),
        F.size(v).cast("long").alias("dim"),
        F.floor(max_abs * F.lit(1_000_000.0)).cast("long").alias("scale_ppm"),
        F.md5(
            F.concat_ws(",", F.transform(q, lambda x: x.cast("string")))
        ).alias("q_checksum"),
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold_micro: int = 400_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication summary: assign every
    vector to its nearest centroid cluster, then within each cluster
    drop any vector that has a smaller-id neighbor with cosine
    similarity at or above the threshold (micro-units — quantized
    before the comparison so ulp-level float drift can't flip a
    boundary pair across engines).

    This is the scale answer to quadratic embedding dedup: pairs only
    form WITHIN a cluster (equi-join on the cluster id, never a cross
    product), so the work is sum over clusters of |c|² instead of n².
    At 100 TB you raise the centroid count until clusters fit; the
    per-cluster pair join shuffles on the cluster key only. Centroids
    here are the label-averaged means (deterministic, no seeded
    kmeans), the same construction nearest_centroid_confusion uses.

    Output: (cluster, n_vecs, n_dropped, n_kept) per cluster.
    """
    ex = embeddings.select(
        F.col("vec_id"),
        F.col(LABEL).alias("label"),
        F.posexplode(F.col(EMBEDDING)).alias("pos", "val"),
    ).withColumn("val", F.col("val").cast("double"))
    centroids = ex.groupBy(
        F.col("label").alias("cand"), F.col("pos")
    ).agg(F.avg("val").alias("c"))
    dists = (
        ex.join(F.broadcast(centroids), "pos")
        .groupBy("vec_id", "cand")
        .agg(F.sum((F.col("val") - F.col("c")) ** 2).alias("d2"))
        .withColumn("d2q", F.floor(F.col("d2") * F.lit(1_000_000.0)).cast("long"))
    )
    # two consumers (both sides of the within-cluster self-join)
    assigned = materialize(
        _topk(
            dists, 1, "d2q", query="vec_id", neighbor="cand", rank="rn",
            desc=False,
        )
        .select("vec_id", F.col("cand").alias("cluster")),
        eager=True,
    )
    # pre-normalize ONCE per vector (n transforms) so the quadratic
    # inner loop pays a single dot product per pair instead of three
    # interpreted folds (dot + two norms) — ~3x on the hot path
    norm = l2_norm(F.col("v"))
    # Both self-join sides replay this lineage (scan + assignment
    # join + normalize transform). Measured both ways (two A/B pairs):
    # pinning the normalized copy cost a consistent +13-23% here —
    # the two replays run as parallel stages on an idle box while the
    # checkpoint serializes them behind a materialization barrier, so
    # the replay stays. On a cluster where the assignment join is a
    # genuine big-big SMJ, materializing this relation (the standard
    # SemDeDup intermediate) is the lever to flip first.
    vecs = (
        embeddings.select("vec_id", F.col(EMBEDDING).alias("v"))
        .join(assigned, "vec_id")
        .select(
            "vec_id",
            "cluster",
            F.transform(
                F.col("v"), lambda x: x.cast("double") / norm
            ).alias("nv"),
        )
    )
    a = vecs.select(
        F.col("cluster"),
        F.col("vec_id").alias("va_id"),
        F.col("nv").alias("va"),
    )
    b = vecs.select(
        F.col("cluster"),
        F.col("vec_id").alias("vb_id"),
        F.col("nv").alias("vb"),
    )
    pairs = a.join(b, "cluster").filter(F.col("va_id") < F.col("vb_id"))
    cos_micro = F.floor(
        dot(F.col("va"), F.col("vb")) * F.lit(1_000_000.0)
    ).cast("long")
    dropped = (
        pairs.select("cluster", "vb_id", cos_micro.alias("cos_micro"))
        .filter(F.col("cos_micro") >= F.lit(threshold_micro))
        .select("cluster", "vb_id")
        .distinct()
    )
    nv = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )
    nd = dropped.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_dropped")
    )
    # both summary sides are <=|clusters| rows (metadata scale) —
    # broadcast the dropped counts; only the within-cluster pair
    # self-join above is a genuine big-big SMJ
    return (
        nv.join(F.broadcast(nd), "cluster", "left")
        .select(
            "cluster",
            "n_vecs",
            F.coalesce(F.col("n_dropped"), F.lit(0)).cast("long").alias("n_dropped"),
            (F.col("n_vecs") - F.coalesce(F.col("n_dropped"), F.lit(0)))
            .cast("long")
            .alias("n_kept"),
        )
    )


def norm_outliers(embeddings: DataFrame) -> DataFrame:
    """Per-label vector-norm outlier audit — the cheap data-poisoning
    / corrupt-encoder check: a vector whose L2 norm sits more than
    `SIGMAS` standard deviations from its label's mean norm is
    flagged. Poisoned or truncated embedding batches show up here
    before any clustering does.

    Exactness trick: norms are floor-quantized to micro-units ONCE,
    and the outlier test runs on integers via cross-multiplication —
    (n·x − S)² > sigmas²·(n·S2 − S²) with S = Σx, S2 = Σx² — so no
    mean, variance, or sqrt ever materializes as a float and the
    flag is bit-identical on any engine. Two passes over a
    16 B/vector relation (label aggregate broadcast back).
    Output: (label, n_vecs, outliers, min_norm_milli, max_norm_milli).
    """
    # milli-units (not micro) keep every downstream product —
    # (n·x)², S², n·S2 — inside int64 up to ~10^5 vectors per label;
    # beyond that re-scale (the audit's resolution, 0.001 of a norm
    # unit, is far finer than any real outlier threshold anyway)
    nm = F.floor(l2_norm(F.col(EMBEDDING)) * F.lit(1_000.0)).cast("long")
    normed = embeddings.select(
        F.col(LABEL).alias("label"), nm.alias("x")
    )
    stats = normed.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
        F.min("x").alias("min_norm_milli"),
        F.max("x").alias("max_norm_milli"),
    )
    j = normed.join(stats, "label")
    dev = F.col("n") * F.col("x") - F.col("s")
    bound = F.lit(SIGMAS * SIGMAS) * (
        F.col("n") * F.col("s2") - F.col("s") * F.col("s")
    )
    return j.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum(F.when(dev * dev > bound, 1).otherwise(0))
        .cast("long")
        .alias("outliers"),
        F.min("min_norm_milli").cast("long").alias("min_norm_milli"),
        F.max("max_norm_milli").cast("long").alias("max_norm_milli"),
    )


def dim_variance_audit(emb: DataFrame) -> DataFrame:
    """Per-dimension embedding statistics — the anisotropy / dead-
    dimension audit. A trained embedding whose variance concentrates
    in a few coordinates (or whose tail coordinates are constant) is
    collapsing; quantizers (embedding_quantize_int8) and ANN
    bucketing both degrade on such geometry, so this table is the
    go/no-go check before either.

    Integer-exact across engines: each value is first floored to a
    fixed grid q = floor(val · 2^10) (float→double widening
    is exact, floor is deterministic), then only integer sums leave
    the per-dimension aggregate: n, Σq, Σq² — accumulated as
    DECIMAL(38,0), because n·Σq² reaches int64 around n ≈ 3M with
    10 scale bits and would wrap silently under non-ANSI Spark
    (DuckDB sums into HUGEINT; decimal keeps both engines on 128-bit
    integers, exact to n ≈ 10¹³). The published columns come back
    down via integer division: the variance numerator n·Σq² − (Σq)²
    is ≥ 0 (Cauchy–Schwarz), so truncating DIV — identical semantics
    in Spark (IntegralDivide) and DuckDB (//) — IS floor; the
    possibly-negative mean numerator gets an explicit floor
    correction off the remainder. No float ever materializes.

    One posexplode + one hash-aggregate on the dimension index —
    D output rows, embarrassingly parallel, no window, no Python.

    Output: (pos, n_vecs, mean_q_ppm, var_q) where q-units are
    1/2^10 of the raw value; mean_q_ppm = floor(1e6·Σq/n),
    var_q = floor((n·Σq² − (Σq)²)/n²) — 0 ⇒ dead dimension.
    """
    ex = emb.select(
        F.posexplode("embedding").alias("pos", "val")
    ).select("pos", _quantize_value(F.col("val"), 10).alias("q"))
    g = ex.groupBy("pos").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum(F.col("q").cast("decimal(38,0)")).alias("s"),
        F.sum((F.col("q") * F.col("q")).cast("decimal(38,0)")).alias(
            "ss"
        ),
    )
    # floor(a/b) for b>0: truncating DIV, minus 1 when a<0 with a
    # nonzero remainder (Spark % carries the dividend's sign).
    mean_num = F.lit(1_000_000).cast("decimal(38,0)") * F.col("s")
    mean_div = F.expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * s) DIV n_vecs AS LONG)"
    )
    mean_fix = F.when(
        (mean_num < 0) & (mean_num % F.col("n_vecs") != 0), F.lit(1)
    ).otherwise(F.lit(0))
    return g.select(
        F.col("pos").cast("int").alias("pos"),
        "n_vecs",
        (mean_div - mean_fix).cast("long").alias("mean_q_ppm"),
        F.expr(
            "CAST((n_vecs * ss - s * s) DIV"
            " (CAST(n_vecs AS DECIMAL(38,0)) * n_vecs) AS LONG)"
        ).alias("var_q"),
    )


def md5_hyperplanes(
    dim: int = 64, n_planes: int = 8, n_tables: int = 8
) -> list[list[list[int]]]:
    """Integer hyperplanes derived from md5 — engine-independent
    CONSTANTS (each component = md5("t_p_d") first 16 bits mod 17,
    shifted to [-8, 8]), so the sign-LSH built on them is exactly
    reproducible anywhere, literals included in the DuckDB oracle.
    Returns planes[t][p][d]."""
    import hashlib

    return [
        [
            [
                int(
                    hashlib.md5(f"{t}_{p}_{d}".encode()).hexdigest()[:4], 16
                )
                % 17
                - 8
                for d in range(dim)
            ]
            for p in range(n_planes)
        ]
        for t in range(n_tables)
    ]


def _exact_bucketed(
    embeddings: DataFrame,
    n_planes: int,
    n_tables: int,
    dim: int,
    scale_bits: int,
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared sign-LSH quantize+bucket stage for the exact
    (hash-oracle-able) tier: returns (base = (id, q, n2) quantized
    vectors with their precomputed squared norm — one fold per
    VECTOR, not per candidate pair — and tabled = (id, t, bucket)
    assignments).

    Each table's bucket renders as ONE SQL string (one py4j call):
    building plane literals as F.lit() trees costs a round-trip per
    component (~10 s of driver time for 8×8×64), while inlining the
    dots as flat q[d]*h arithmetic blows janino's 64 KB method
    limit. SQL aggregate/zip_with keeps every dot a single compact
    expression node — fast to construct AND codegen-friendly.
    """
    planes = md5_hyperplanes(dim, n_planes, n_tables)
    base = _quantized(
        ensure_parallelism(embeddings), scale_bits, id_col, vec_col
    )

    def dot_sql(plane: list[int]) -> str:
        arr = ", ".join(f"{h}L" for h in plane)
        return (
            f"aggregate(zip_with(q, array({arr}), (x, y) -> x * y),"
            " cast(0 as long), (acc, v) -> acc + v)"
        )

    table_exprs = []
    for t in range(n_tables):
        bits = " + ".join(
            f"(CASE WHEN {dot_sql(planes[t][p])} > 0"
            f" THEN {1 << p} ELSE 0 END)"
            for p in range(n_planes)
        )
        table_exprs.append(
            f"named_struct('t', {t}, 'bucket', CAST({bits} AS LONG))"
        )
    # several consumers of each in every caller (qa/qb vector re-joins,
    # a/b bucket-join sides)
    base = materialize(base)
    tabled = materialize(base.select(
        id_col,
        F.explode(F.expr(f"array({', '.join(table_exprs)})")).alias("tb"),
    ).select(id_col, "tb.t", "tb.bucket"))
    return base, tabled


def _bucket_pairs(tabled: DataFrame, id_col: str) -> DataFrame:
    """Sign-LSH candidates: unordered pairs (vec_a < vec_b) sharing a
    bucket in at least one table of `tabled` = (id, t, bucket), each
    pair once. Only the two ids cross the dedup exchange (16 B/pair,
    not ~1 KB of long arrays); `_rejoin_score` brings the vectors."""
    a = tabled.select(F.col("t"), F.col("bucket"), F.col(id_col).alias("vec_a"))
    b = tabled.select(F.col("t"), F.col("bucket"), F.col(id_col).alias("vec_b"))
    return (
        a.join(b, ["t", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
    )


def lsh_near_dup_exact(embeddings: DataFrame) -> DataFrame:
    """Sign-LSH near-dup with EXACT cross-engine semantics — the
    hash-oracle-able sibling of lsh_near_dup_pairs (whose seeded
    float hyperplanes and float dot products are engine-private):

    - hyperplanes are md5-derived integer constants (md5_hyperplanes);
    - vectors quantize once to q = floor(v·2^SCALE_BITS) — every
      bucket bit is the sign of an exact integer dot product
      (bit = dot > 0: no float, no ulp, no tie ambiguity);
    - candidates collide in ≥ 1 of the N_TABLES bucket tables
      (same-bucket equi-join, per-bucket-quadratic — the scale path;
      N_PLANES=8 ⇒ 256 buckets/table, so a uniform corpus pays
      ~n²/256 candidates per table, not the n²/16 the old 4-bit
      keys allowed). The pair-dedup exchange carries ONLY the two
      ids — quantized vectors are joined back afterwards, exactly
      like lsh_near_dup_pairs, so candidate dedup shuffles 16 B/pair
      instead of ~1 KB/pair of long arrays;
    - verification keeps pairs with cos ≥ THRESHOLD_NUM/THRESHOLD_DEN
      via the cross-multiplied integer comparison
      den²·dot² ≥ num²·|a|²·|b|² (with dot > 0) — exact rational
      arithmetic; with SCALE_BITS=8, DIM=64 and |v| ≤ 4 every product
      stays far inside int64.

    Output: (vec_a, vec_b, cos_mppm) where cos_mppm =
    floor(1e6·dot/(√|a|²·√|b|²)) — IEEE sqrt/divide are correctly
    rounded single operations, bit-identical across engines.
    """
    base, tabled = _exact_bucketed(
        embeddings, N_PLANES, N_TABLES, DIM, SCALE_BITS, VEC_ID, EMBEDDING
    )
    # d > 0 also rules out zero norms
    keep = (F.col("d") > 0) & (
        F.lit(THRESHOLD_DEN * THRESHOLD_DEN) * F.col("d") * F.col("d")
        >= F.lit(THRESHOLD_NUM * THRESHOLD_NUM) * F.col("na2") * F.col("nb2")
    )
    return _rejoin_score(
        _bucket_pairs(tabled, VEC_ID), base, "vec_a", "vec_b", VEC_ID, keep
    )


def lsh_topk_exact(
    embeddings: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 8,
    dim: int = 64,
    bucketed: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Approximate kNN with EXACT cross-engine semantics — the
    hash-oracle-able sibling of lsh_topk (whose seeded float
    hyperplanes are engine-private): candidates are same-bucket
    neighbors in ≥ 1 of the md5-derived integer bucket tables
    (_exact_bucketed), scored by the exact integer dot products,
    ranked per query by (cos_mppm desc, neighbor_id asc) — a total
    deterministic order, so the top-k set is identical on any
    engine. Approximation lives ONLY in candidate recall (a true
    neighbor missing from every shared bucket can't rank), exactly
    like lsh_topk; unlike it, every surviving row hash-matches the
    DuckDB oracle.

    Same scale posture as lsh_near_dup_exact: per-bucket-quadratic
    candidates, ids-only through the dedup exchange, vectors
    re-joined after. The per-query top-k is a window over each
    query's candidate list (bounded by bucket sizes), never over the
    corpus. Output: (query_id, neighbor_id, rank, cos_mppm).
    """
    # `bucketed` lets a caller that already materialized the
    # (base, tabled) quantize+bucket stage (ann_recall_eval /
    # retrieval_rank_eval build it for their exact ground-truth
    # side) share it instead of paying the stage twice.
    if bucketed is None:
        bucketed = _exact_bucketed(
            embeddings, n_planes, n_tables, dim, SCALE_BITS, VEC_ID, EMBEDDING
        )
    base, tabled = bucketed
    # kNN candidates are symmetric (same buckets both ways), so dedup
    # and score each UNORDERED pair once — half the exchange weight
    # and half the dot products — then emit both orientations into
    # the per-query ranking.
    pair_scored = _rejoin_score(
        _bucket_pairs(tabled, VEC_ID), base, "vec_a", "vec_b", VEC_ID
    )
    # two consumers (both union branches)
    pair_scored = materialize(pair_scored)
    return _topk(_both_ways(pair_scored), k).select(
        "query_id", "neighbor_id", "rank", "cos_mppm"
    )


def embedding_consistency_audit(
    docs: DataFrame,
    embeddings: DataFrame,
) -> DataFrame:
    """Cross-modal consistency audit: documents whose TEXT is
    byte-identical (same normalized sha256) must carry near-identical
    EMBEDDINGS — when they don't, the embedding pipeline is broken
    for one of them (stale vector after a re-crawl, version-skewed
    encoder, row mix-up). This is the detector a curation stack runs
    before trusting vectors for semantic dedup or retrieval.

    Scale contract — star pattern, never quadratic: each exact-dup
    group compares members against the group REPRESENTATIVE (min id)
    only, so the pair count is linear in the duplicated-doc count no
    matter how large a dup cluster grows (a 10^6-copy boilerplate
    page yields 10^6−1 pairs, not 10^12). Group discovery is ONE
    window over the uniform 32-byte hash partitioning (partition
    size = dup multiplicity — the quality_dup_matrix idiom);
    quantized vectors join by id afterwards, so text and vectors
    never ride the same shuffle. Cosine is the exact integer
    lsh_topk_exact arithmetic. Output: inconsistent pairs only —
    (rep_id, doc_id, cos_mppm) with cos_mppm < 950000.
    """
    from pyspark.sql.window import Window

    from iceberg_diag_spark.operators.dedup import normalized_text

    hashed = ensure_parallelism(docs).select(
        F.col(DOC_ID),
        F.sha2(normalized_text(F.col("text")), 256).alias("__h"),
    )
    wg = Window.partitionBy("__h")
    members = (
        hashed.select(
            DOC_ID,
            F.min(DOC_ID).over(wg).alias("rep_id"),
            F.count(F.lit(1)).over(wg).alias("__n"),
        )
        .filter((F.col("__n") > 1) & (F.col(DOC_ID) != F.col("rep_id")))
        .select("rep_id", DOC_ID)
    )
    # two consumers (both join sides)
    base = materialize(_quantized(embeddings, SCALE_BITS, VEC_ID, EMBEDDING))
    return _rejoin_score(members, base, "rep_id", DOC_ID, VEC_ID).filter(
        F.col("cos_mppm") < 950_000
    )


def ivf_balance_audit(embeddings: DataFrame) -> DataFrame:
    """ANN index health check: the cell-occupancy profile of the IVF
    coarse quantizer ivf_topk_exact probes. A skewed inverted file is
    the silent ANN performance killer — a cell holding 40% of the
    corpus makes every probe of it quadratic-ish while empty cells
    waste recall — so a production pipeline audits balance BEFORE
    serving the index. Same md5-derived centroid constants and exact
    integer argmin assignment as ivf_topk_exact (ties → lowest cell
    id), so this audit describes exactly the index that query path
    uses.

    One scan: assignment is a row-local array_sort over N_LISTS
    (dist², cell) structs, then ONE hash aggregate on the ≤ N_LISTS
    key. share_ppm and the deviation from the uniform 1/N_LISTS
    ideal are exact integer arithmetic on the counts. Output per
    occupied cell: (list_id, n_vecs, share_ppm, dev_ppm) where
    dev_ppm = share_ppm − floor(1e6/N_LISTS).
    """
    cents = md5_centroids(DIM, N_LISTS, 1 << SCALE_BITS)
    base = ensure_parallelism(embeddings).select(
        F.col(VEC_ID), _quantize(F.col(EMBEDDING), SCALE_BITS).alias("q")
    )
    assigned = base.select(
        F.expr(_cells_sorted_expr(cents) + "[0].c").cast("long").alias("list_id")
    )
    counts = assigned.groupBy("list_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )
    total = counts.agg(F.sum("n_vecs").cast("long").alias("n_total"))
    ideal = 1_000_000 // N_LISTS
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "list_id",
            "n_vecs",
            F.expr("(1000000 * n_vecs) DIV n_total").alias("share_ppm"),
            (
                F.expr("(1000000 * n_vecs) DIV n_total") - F.lit(ideal)
            ).cast("long").alias("dev_ppm"),
        )
    )


def embedding_drift_audit(embeddings: DataFrame) -> DataFrame:
    """Distribution-drift audit between two deterministic halves of
    the corpus (vec_id parity — the train/validation-split shape):
    per label, the squared distance between the two halves' centroids
    in quantized units. A label whose halves disagree is drifting
    (ingestion-order effects, re-crawl shift, annotation change) —
    splits stratified on it won't be exchangeable, and centroids
    trained on one half won't serve the other.

    Integer-exact across engines: values quantize once to
    q = floor(v·2^SCALE_BITS); each half's per-dimension sums are
    exact integers, and the squared centroid gap per dimension is the
    exact rational (sa·nb − sb·na)²/(na·nb)² — numerator and the
    dimension-sum accumulate as DECIMAL(38,0) (exact to ~2×10⁸ rows
    per label-half at SCALE_BITS=8; raise and re-scale past that),
    published via one truncating DIV (numerator ≥ 0 ⇒ floor). No
    float ever materializes.

    One posexplode + hash aggregate on (label, pos) — D rows per
    label — then a label rollup; never a pairwise join.
    Output: (label, n_a, n_b, drift_sq_q) in q² units.
    """
    ex = embeddings.select(
        F.col(LABEL).alias("label"),
        (F.pmod(F.col(VEC_ID), F.lit(2)) == 0).alias("__a"),
        F.posexplode(F.col(EMBEDDING)).alias("pos", "val"),
    ).select(
        "label", "__a", "pos", _quantize_value(F.col("val"), SCALE_BITS).alias("q")
    )
    per_dim = ex.groupBy("label", "pos").agg(
        # cast INSIDE the sum so accumulation itself is 128-bit —
        # casting the finished sum would let the partials wrap int64
        F.sum(
            F.when(F.col("__a"), F.col("q")).otherwise(0)
            .cast("decimal(38,0)")
        ).alias("sa"),
        F.sum(
            F.when(F.col("__a"), 0).otherwise(F.col("q"))
            .cast("decimal(38,0)")
        ).alias("sb"),
        F.sum(F.when(F.col("__a"), 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(F.col("__a"), 0).otherwise(1)).cast("long").alias("nb"),
    )
    num = (
        F.col("sa") * F.col("nb") - F.col("sb") * F.col("na")
    )
    return (
        per_dim.filter((F.col("na") > 0) & (F.col("nb") > 0))
        .select("label", "na", "nb", (num * num).alias("__t"))
        .groupBy("label")
        .agg(
            F.min("na").cast("long").alias("n_a"),
            F.min("nb").cast("long").alias("n_b"),
            F.sum("__t").alias("__num"),
        )
        .select(
            F.col("label").cast("long").alias("label"),
            "n_a",
            "n_b",
            F.expr(
                "CAST(__num DIV (CAST(n_a AS DECIMAL(38,0)) * n_b"
                " * n_a * n_b) AS LONG)"
            ).alias("drift_sq_q"),
        )
    )


def embedding_dim_covariance(
    embeddings: DataFrame,
    top_dims: int = 8,
) -> DataFrame:
    """Pairwise covariance over the TOP-VARIANCE embedding dimensions
    — the anisotropy-direction companion of dim_variance_audit:
    variance says which coordinates carry energy, covariance says
    whether they carry the SAME energy (strongly-correlated top dims
    mean the representation collapsed onto a lower-rank subspace, so
    PCA/whitening before quantization or LSH is warranted).

    Never a 64×64 expansion: phase 1 is the dim_variance moment pass
    (D rows); the top_dims highest-variance dimensions (exact integer
    tie-break: var numerator desc, pos asc) form a tiny broadcast
    set; phase 2 re-explodes only those dimensions — top_dims values
    per row — and one equi-join on the row id builds the
    C(top_dims, 2) pairs. Moments accumulate as DECIMAL(38,0);
    the covariance numerator n·Σxy − Σx·Σy can be NEGATIVE, so it is
    published by truncating DIV (toward zero — identical in Spark
    and DuckDB), documented as such.

    Output: (pos_a, pos_b, n_vecs, cov_q) with pos_a < pos_b, cov_q
    = (n·Σq_a·q_b − Σq_a·Σq_b) DIV n² in q² units.
    """
    ex = embeddings.select(
        F.col(VEC_ID).alias("__rid"),
        F.posexplode(F.col(EMBEDDING)).alias("pos", "val"),
    ).select(
        "__rid", "pos", _quantize_value(F.col("val"), 10).alias("q")
    )
    ex = materialize(ex)
    # phase 1: exact variance numerator per dimension → top set
    mom = ex.groupBy("pos").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("q").cast("decimal(38,0)")).alias("s"),
        F.sum((F.col("q") * F.col("q")).cast("decimal(38,0)")).alias("ss"),
    )
    top = (
        mom.select(
            "pos",
            (F.col("n") * F.col("ss") - F.col("s") * F.col("s")).alias(
                "__var_num"
            ),
        )
        .orderBy(F.desc("__var_num"), F.asc("pos"))
        .limit(top_dims)
        .select("pos")
    )
    kept = ex.join(F.broadcast(top), "pos")
    a = kept.select(
        "__rid", F.col("pos").alias("pos_a"), F.col("q").alias("qa")
    )
    b = kept.select(
        "__rid", F.col("pos").alias("pos_b"), F.col("q").alias("qb")
    )
    pairs = a.join(b, "__rid").filter(F.col("pos_a") < F.col("pos_b"))
    g = pairs.groupBy("pos_a", "pos_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum(F.col("qa").cast("decimal(38,0)")).alias("sa"),
        F.sum(F.col("qb").cast("decimal(38,0)")).alias("sb"),
        F.sum((F.col("qa") * F.col("qb")).cast("decimal(38,0)")).alias(
            "sab"
        ),
    )
    return g.select(
        F.col("pos_a").cast("int").alias("pos_a"),
        F.col("pos_b").cast("int").alias("pos_b"),
        "n_vecs",
        F.expr(
            "CAST((n_vecs * sab - sa * sb) DIV"
            " (CAST(n_vecs AS DECIMAL(38,0)) * n_vecs) AS LONG)"
        ).alias("cov_q"),
    )


def md5_centroids(
    dim: int = 64, n_lists: int = 16, half_range: int = 256
) -> list[list[int]]:
    """Integer IVF centroids derived from md5 — engine-independent
    CONSTANTS (component = md5("c_{c}_{d}") first 16 bits mod
    (2·half_range+1), shifted to [−half_range, half_range] — the same
    grid as q = floor(v·256)), so the coarse quantizer built on them
    is exactly reproducible anywhere, literals included in the DuckDB
    oracle. Returns centroids[c][d]."""
    import hashlib

    m = 2 * half_range + 1
    return [
        [
            int(hashlib.md5(f"c_{c}_{d}".encode()).hexdigest()[:4], 16) % m
            - half_range
            for d in range(dim)
        ]
        for c in range(n_lists)
    ]


def _cells_sorted_expr(cents: list[list[int]], vec: str = "q") -> str:
    """SQL expression ranking every cell by exact integer squared
    distance from the quantized vector `vec` (default: the column
    `q`): one array_sort over (d2, c) structs per row, nearest first,
    ties to the lowest cell id. Element 0 is the assignment, a slice
    the probe set. Every integer-centroid quantizer uses it: the IVF
    cells, k-means seeds and PQ codewords (`vec` a subspace slice).
    Centroid literals render inline (the _exact_bucketed lesson: one
    SQL string per cell, never a py4j literal tree)."""

    def d2_sql(cent: list[int]) -> str:
        arr = ", ".join(f"{h}L" for h in cent)
        return (
            f"aggregate(zip_with({vec}, array({arr}),"
            " (x, y) -> (x - y) * (x - y)),"
            " cast(0 as long), (acc, v) -> acc + v)"
        )

    cell_structs = ", ".join(
        f"named_struct('d2', {d2_sql(cent)}, 'c', {c})"
        for c, cent in enumerate(cents)
    )
    return f"array_sort(array({cell_structs}))"


def ivf_topk_exact(embeddings: DataFrame, k: int = 5) -> DataFrame:
    """IVF approximate kNN with EXACT cross-engine semantics — the
    hash-oracle-able sibling of ivf_topk (whose KMeans centroids are
    engine-private): the coarse quantizer is the fixed md5-derived
    integer centroid set, assignment is argmin of EXACT integer
    squared distance (ties → lowest cell id), each query probes its
    4 nearest cells, and candidates score by exact integer
    cosine with the total (cos_mppm desc, neighbor asc) order.
    Approximation lives ONLY in which cells are probed — every
    surviving row hash-matches the DuckDB oracle.

    The per-vector cell ranking is ONE array_sort over N_LISTS
    (dist², cell) structs — no window over corpus×N_LISTS rows:
    assignment = element 1, probe set = slice(1..n_probe). Centroid
    literals render as one SQL string per cell (the _exact_bucketed
    lesson). INDEX shape matches a real deployment: `assigned` is
    the list_id-partitioned table a production pipeline would
    materialize. Output: (query_id, neighbor_id, rank, cos_mppm).
    """
    cents = md5_centroids(DIM, N_LISTS, 1 << SCALE_BITS)
    # `base` has three consumers (cells, both scoring sides), `cells`
    # two (assignment, probes)
    base = materialize(_quantized(
        ensure_parallelism(embeddings), SCALE_BITS, VEC_ID, EMBEDDING
    ))

    cells = materialize(base.select(
        VEC_ID,
        F.expr(_cells_sorted_expr(cents)).alias("cells"),
    ))
    assigned = cells.select(
        F.col(VEC_ID).alias("neighbor_id"),
        F.expr("cells[0].c").alias("list_id"),
    )
    probes = cells.select(
        F.col(VEC_ID).alias("query_id"),
        F.explode(
            F.expr("transform(slice(cells, 1, 4), s -> s.c)")
        ).alias("list_id"),
    )
    cand = (
        probes.join(assigned, "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    scored = _rejoin_score(cand, base, "query_id", "neighbor_id", VEC_ID)
    return _topk(scored, k).select(
        "query_id", "neighbor_id", "rank", "cos_mppm"
    )


def ivf_nprobe_sweep(
    embeddings: DataFrame,
    probes: tuple[int, ...] = (1, 2, 4, 8),
) -> DataFrame:
    """IVF operating-point sweep — the table a deployment reads to
    PICK n_probe: for each candidate probe count, exact recall@k
    against brute-force ground truth on the bounded query panel AND
    the fraction of the corpus each query actually scans (the
    recall/cost trade every IVF tuning doc plots).

    One index pass serves every probe count: the sorted cell ranking
    (ivf_topk_exact's array_sort) is computed once; a neighbor
    reached at probe rank r is reachable for every n_probe ≥ r, so
    recall needs only the PROBE RANK of each exact-top-k neighbor's
    assigned cell (a left join of ground truth onto the rank
    relation), and scan cost needs only the broadcast N_LISTS-row
    cell-size table — no per-probe re-query, no per-probe shuffle.
    Ground truth is the ann_recall_eval shape: broadcast 1/QUERY_MOD
    panel vs the corpus, WindowGroupLimit top-k, exact integer
    cosine with (cos desc, id asc) ties.

    Output per probe count: (n_probe, n_queries, n_exact, n_hits,
    recall_ppm, scanned_rows, scan_frac_ppm) — scanned_rows counts
    candidates excluding the query itself (its own cell is always
    probe rank 1); scan_frac_ppm is against the (corpus−1) rows a
    brute-force query would score.
    """
    max_p = max(probes)
    if max_p > N_LISTS:
        raise ValueError("max probe count cannot exceed n_lists")
    cents = md5_centroids(DIM, N_LISTS, 1 << SCALE_BITS)
    base = materialize(
        _quantized(ensure_parallelism(embeddings), SCALE_BITS, VEC_ID, EMBEDDING)
        .filter(F.col("n2") > 0)  # corpus side + panel + cells
    )
    cells = materialize(base.select(
        VEC_ID, F.expr(_cells_sorted_expr(cents)).alias("cells")
    ))  # assigned + panel-probe consumers
    assigned = cells.select(
        F.col(VEC_ID).alias("neighbor_id"),
        F.expr("cells[0].c").alias("list_id"),
    )
    cell_sizes = assigned.groupBy("list_id").agg(
        F.count(F.lit(1)).cast("long").alias("csize")
    )
    # exact brute-force top-k over the broadcast panel
    exact = _panel_topk(base, VEC_ID, QUERY_MOD, 5).select(
        "query_id", "neighbor_id"
    )
    # probe rank of every cell each panel query would visit
    ppr = cells.join(
        base.filter(F.col(VEC_ID) % QUERY_MOD == 0).select(
            F.col(VEC_ID).alias("query_id")
        ),
        cells[VEC_ID] == F.col("query_id"),
        "inner",
    ).select(
        "query_id",
        F.posexplode(
            F.expr(f"transform(slice(cells, 1, {int(max_p)}), s -> s.c)")
        ).alias("__p0", "list_id"),
    ).select(
        "query_id", (F.col("__p0") + 1).alias("prank"), "list_id"
    )
    # probe rank at which each exact neighbor becomes reachable: an
    # INNER join — a ground-truth neighbor absent from every probed
    # cell contributes 0 hits at every n_probe, so nothing outer is
    # needed, and inner lets the panel×k exact side BROADCAST against
    # the large candidate-rank relation (a left-outer would have to
    # broadcast the big preserved-side complement instead)
    exact = materialize(exact)  # totals + hit join
    hit_rank = F.broadcast(exact).join(
        ppr.join(assigned, "list_id").select(
            "query_id", "neighbor_id", "prank"
        ),
        ["query_id", "neighbor_id"],
    )
    probes_rel = F.broadcast(
        embeddings.sparkSession.createDataFrame(
            [(int(p),) for p in sorted(probes)], "n_probe long"
        )
    )
    totals = exact.agg(
        F.countDistinct("query_id").cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_exact"),
    )
    hits = (
        hit_rank.crossJoin(probes_rel)
        .filter(F.col("prank") <= F.col("n_probe"))
        .groupBy("n_probe")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    recall = (
        probes_rel.crossJoin(F.broadcast(totals))
        .join(F.broadcast(hits), "n_probe", "left")
        .select(
            "n_probe",
            "n_queries",
            "n_exact",
            F.coalesce(F.col("n_hits"), F.lit(0))
            .cast("long")
            .alias("n_hits"),
        )
        .withColumn(
            "recall_ppm",
            F.expr("1000000 * n_hits DIV n_exact").cast("long"),
        )
    )
    n_total = base.agg(F.count(F.lit(1)).cast("long").alias("n_corpus"))
    scanned = (
        ppr.join(F.broadcast(cell_sizes), "list_id")
        .crossJoin(probes_rel)
        .filter(F.col("prank") <= F.col("n_probe"))
        .groupBy("n_probe")
        .agg(
            F.sum("csize").cast("long").alias("__visited"),
            F.countDistinct("query_id").cast("long").alias("__nq"),
        )
        .select(
            "n_probe",
            (F.col("__visited") - F.col("__nq"))
            .cast("long")
            .alias("scanned_rows"),
            F.col("__nq").alias("__nq"),
        )
    )
    return (
        recall.join(F.broadcast(scanned), "n_probe")
        .crossJoin(F.broadcast(n_total))
        .select(
            "n_probe",
            "n_queries",
            "n_exact",
            "n_hits",
            "recall_ppm",
            "scanned_rows",
            F.expr(
                "CAST(1000000 * scanned_rows"
                " DIV (__nq * (n_corpus - 1)) AS BIGINT)"
            ).alias("scan_frac_ppm"),
        )
    )


def ivf_index_assignments(
    embeddings: DataFrame,
    n_lists: int = 16,
) -> DataFrame:
    """The IVF index RELATION a production deployment materializes:
    one row per vector carrying everything a probe needs — its
    assigned cell (argmin exact integer squared distance to the fixed
    md5 centroid set, ties → lowest cell id: exactly ivf_topk_exact's
    quantizer), the quantized integer vector, and its squared norm.
    Zero-norm vectors are indexed too (they can never score, but an
    index that silently drops rows fails its occupancy manifest).

    Output: (list_id, vec_id, q array<long>, n2). One scan, zero
    shuffle — assignment is a row-local array_sort over n_lists
    (dist², cell) structs.
    """
    cents = md5_centroids(DIM, n_lists, 1 << SCALE_BITS)
    return (
        ensure_parallelism(embeddings)
        .select(
            F.col(VEC_ID).alias("vec_id"),
            _quantize(F.col(EMBEDDING), SCALE_BITS).alias("q"),
        )
        .select(
            F.expr(_cells_sorted_expr(cents) + "[0].c")
            .cast("long")
            .alias("list_id"),
            "vec_id",
            "q",
            int_dot(F.col("q"), F.col("q")).alias("n2"),
        )
    )


def _ivf_manifest_agg(asg: DataFrame) -> DataFrame:
    """Per-cell index manifest over an assignment relation, shared by
    the build and verify_ivf_index: the membership manifest of the
    vec ids per cell, with occupancy and the total squared norm
    (payload checksum)."""
    return membership_manifest(
        asg,
        [F.col("list_id").cast("long").alias("list_id")],
        F.col("vec_id"),
        "n_vecs",
        F.sum("n2").cast("long").alias("norm_sum"),
    )


def ivf_build_index(
    embeddings: DataFrame,
    path: str | None = None,
    n_lists: int = 16,
) -> DataFrame:
    """Advisor-EXECUTING pattern #6: ivf_nprobe_sweep picks the IVF
    operating point; this BUILDS the index it assumed — writes the
    cell-partitioned quantized index as prunable list_id=K parquet
    directories (the corpus_release/export_training_shards layout: a
    probe of p cells is a p-directory read, never a corpus scan) and
    returns the per-cell manifest computed FROM THE WRITTEN FILES, so
    the returned relation vouches for what actually landed on disk,
    not for the plan that was supposed to land there (the
    corpus_release written-files discipline, funnel.corpus_release).

    `path=None` builds into a fresh temp directory (the registry/
    driver mode — the streaming twins' tempfile idiom): the manifest
    is then eagerly checkpointed and the directory removed, so
    repeated driver/bench runs don't accumulate index copies in /tmp
    (run_corpus_release_stream's cleanup discipline). The write goes
    through sinks.write_assigned_shards — ONE hash repartition on
    list_id co-locates each cell, sortWithinPartitions makes
    re-builds byte-stable. ivf_probe_index is the consumer.

    Output per cell: (list_id, n_vecs, norm_sum, members_xor,
    members_xor2).
    """
    import shutil
    import tempfile

    cleanup = path is None
    if path is None:
        path = tempfile.mkdtemp(prefix="ivf_index_")
    asg = ivf_index_assignments(embeddings, n_lists)
    write_assigned_shards(
        asg, path, n_lists, shard_col="list_id", order_cols=("vec_id",)
    )
    manifest = _ivf_manifest_agg(embeddings.sparkSession.read.parquet(path))
    if cleanup:
        manifest = materialize(manifest, eager=True)
        shutil.rmtree(path, ignore_errors=True)
    return manifest


def ivf_probe_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    n_lists: int = 16,
) -> DataFrame:
    """Consumer side of ivf_build_index: answer kNN queries FROM the
    written index files — quantize each query, rank its n_probe
    nearest cells (the same row-local array_sort as the build), and
    join candidates out of exactly those list_id=K directories
    (partition pruning keeps the read to p cells when the query panel
    probes few cells). Scoring and ranking are ivf_topk_exact's:
    exact integer cosine, (cos desc, neighbor asc) ties — so probing
    a faithfully-written index reproduces ivf_topk_exact bit for bit
    (pytest-pinned).

    Output: (query_id, neighbor_id, rank, cos_mppm).
    """
    cents = md5_centroids(DIM, n_lists, 1 << SCALE_BITS)
    index = spark.read.parquet(path).select(
        F.col("list_id").cast("long").alias("list_id"),
        F.col("vec_id").alias("neighbor_id"),
        F.col("q").alias("qb"),
        F.col("n2").alias("nb2"),
    )
    qside = (
        ensure_parallelism(queries)
        .select(
            F.col(VEC_ID).alias("query_id"),
            _quantize(F.col(EMBEDDING), SCALE_BITS).alias("q"),
        )
        .select(
            "query_id",
            F.col("q").alias("qa"),
            int_dot(F.col("q"), F.col("q")).alias("na2"),
            F.expr(_cells_sorted_expr(cents)).alias("cells"),
        )
        .select(
            "query_id",
            "qa",
            "na2",
            F.explode(
                F.expr(
                    f"transform(slice(cells, 1, {int(n_probe)}),"
                    f" s -> CAST(s.c AS BIGINT))"
                )
            ).alias("list_id"),
        )
    )
    scored = (
        qside.join(index, "list_id")
        .filter(
            (F.col("query_id") != F.col("neighbor_id"))
            & (F.col("na2") > 0)
            & (F.col("nb2") > 0)
        )
        .select(
            "query_id",
            "neighbor_id",
            _cos_mppm(int_dot(F.col("qa"), F.col("qb")), "na2", "nb2").alias(
                "cos_mppm"
            ),
        )
    )
    return _topk(scored, k).select(
        "query_id", "neighbor_id", "rank", "cos_mppm"
    )


def verify_ivf_index(spark, path: str, manifest: DataFrame) -> DataFrame:
    """Verify a DELIVERED index against its published manifest through
    sinks.check_manifest: the per-cell manifest recomputes from the
    files at `path` — a cell that was lost, truncated, duplicated,
    row-tampered or added cannot come back ok (the salted bit_xor
    digests catch any vec-id set change, norm_sum any payload change).
    Output per cell: (list_id, ok, n_vecs_expected, n_vecs_actual)."""
    return check_manifest(
        manifest,
        _ivf_manifest_agg(spark.read.parquet(path)),
        "list_id",
        ("n_vecs", "norm_sum", "members_xor", "members_xor2"),
        [("n_vecs", "n_vecs")],
    )


def ann_recall_eval(
    embeddings: DataFrame,
    k: int = 5,
    query_mod: int = 100,
    dim: int = 64,
) -> DataFrame:
    """ANN index quality audit: per-query recall@k of the sign-LSH
    approximate kNN (lsh_topk_exact) against the EXACT brute-force
    top-k under the *same* quantized-integer scoring and tie-break —
    so the number measures exactly one thing: candidate coverage of
    the bucket tables (a true neighbor sharing no bucket with the
    query can never rank). The eval every ANN deployment runs before
    trusting an index; here both sides are integer-deterministic, so
    the whole report is hash-oracle-able.

    Scale contract: the ground-truth side is O(N·Q); Q is a
    deterministic 1/query_mod id-sample (vec_id % query_mod = 0) and
    the sampled query vectors BROADCAST — the audit is "spot-check
    recall on a bounded query panel against the full corpus", never
    all-pairs. The per-query top-k filter compiles to
    WindowGroupLimit (partial per-task top-k before the exchange),
    so only k rows per (query, task) shuffle. The approx side is the
    production bucket plan itself.

    Output per sampled query: (query_id, n_exact, n_hits,
    recall_ppm, first_miss_rank — 0 when nothing was missed).
    """
    bucketed = _exact_bucketed(
        embeddings, N_PLANES, N_TABLES, dim, SCALE_BITS, VEC_ID, EMBEDDING
    )
    base = bucketed[0]  # checkpointed inside _exact_bucketed
    exact_topk = _panel_topk(
        base.filter(F.col("n2") > 0), VEC_ID, query_mod, k
    )
    approx = lsh_topk_exact(
        embeddings, k, N_PLANES, N_TABLES, dim,
        bucketed=bucketed,
    ).filter(F.col("query_id") % query_mod == 0)
    hit = approx.select(
        "query_id", "neighbor_id", F.lit(1).alias("__hit")
    )
    # both sides of the scoring join are panel-scale (n_queries × k —
    # the query panel itself broadcasts above); an SMJ here sorts the
    # same bounded relation twice (as in matryoshka_audit)
    return (
        exact_topk.join(F.broadcast(hit), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("long")
            .alias("n_hits"),
            F.min(
                F.when(F.col("__hit").isNull(), F.col("rank"))
            ).alias("__first_miss"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hits",
            F.expr("(1000000 * n_hits) DIV n_exact").alias("recall_ppm"),
            F.coalesce(F.col("__first_miss"), F.lit(0))
            .cast("long")
            .alias("first_miss_rank"),
        )
        .orderBy("query_id")
    )


def hard_negative_mining(embeddings: DataFrame, dim: int = 64) -> DataFrame:
    """Hard-negative mining for contrastive / embedding training:
    per anchor, the 3 CLOSEST vectors that are still clearly not
    positives — cosine inside [lo, hi) mppm. Random negatives are
    too easy (the model separates them immediately); near-duplicates
    (≥ hi) are presumed positives and poison the loss; the band in
    between is where the training signal lives. This is the standard
    in-batch-negatives upgrade every retrieval/embedding pipeline
    ships.

    Distributed shape mirrors ivf_topk_exact: vectors assign to
    their nearest md5-centroid cell (argmin of exact integer d² via
    one array_sort over N_LISTS structs — row-local), candidate
    pairs form ONLY within a cell (cell-bounded quadratic, never
    all-pairs; cells are the same coarse quantizer the ANN index
    already maintains, so mining rides the existing partitioning),
    unordered pairs score ONCE by exact integer cosine, then both
    orientations enter a per-anchor WindowGroupLimit top-3. Output:
    (anchor_id, negative_id, rank, cos_mppm) — rank 1 = hardest.
    """
    cents = md5_centroids(dim, N_LISTS, 1 << SCALE_BITS)
    base = _quantized(
        ensure_parallelism(embeddings), SCALE_BITS, VEC_ID, EMBEDDING
    )
    assigned = base.filter(F.col("n2") > 0).select(
        VEC_ID,
        "q",
        "n2",
        F.expr(_cells_sorted_expr(cents) + "[0].c").alias("list_id"),
    )
    a = assigned.select(
        "list_id",
        F.col(VEC_ID).alias("vec_a"),
        F.col("q").alias("qa"),
        F.col("n2").alias("na2"),
    )
    b = assigned.select(
        "list_id",
        F.col(VEC_ID).alias("vec_b"),
        F.col("q").alias("qb"),
        F.col("n2").alias("nb2"),
    )
    pair_scored = materialize(
        a.join(b, "list_id")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            _cos_mppm(int_dot(F.col("qa"), F.col("qb")), "na2", "nb2").alias(
                "cos_mppm"
            ),
        )
        .filter(
            (F.col("cos_mppm") >= 300_000) & (F.col("cos_mppm") < 850_000)
        )
    )
    both = _both_ways(pair_scored, "anchor_id", "negative_id")
    return (
        _topk(both, 3, query="anchor_id", neighbor="negative_id")
        .select("anchor_id", "negative_id", "rank", "cos_mppm")
        .orderBy("anchor_id", "rank")
    )


def embedding_energy_curve(embeddings: DataFrame) -> DataFrame:
    """Matryoshka truncation audit: how much of the corpus's
    embedding energy (squared L2 mass) survives truncating every
    vector to its first d dimensions? The go/no-go check before
    serving truncated embeddings (MRL-style) for cheaper ANN — if
    the first 16 dims hold 95% of the energy, an index on 16 dims is
    nearly free recall; if they hold 40%, don't.

    Exact integers end-to-end: vectors quantize once (floor(x·2^b)),
    per-vector prefix energies are row-local array folds over slices,
    and corpus sums accumulate in DECIMAL(38,0) (int64 would wrap:
    1e10 vectors × 64 dims × (2^8·|x|)² is ~1e17 per term). One scan,
    one 5-row aggregate — no shuffle beyond the final 1-task agg.
    Output per prefix d: (prefix_dim, total_captured_ppm,
    min_vec_ppm, n_vecs) — min over vectors is the worst case a
    truncated query could hit.
    """
    base = _quantized(
        ensure_parallelism(embeddings), SCALE_BITS, VEC_ID, EMBEDDING
    ).filter(F.col("n2") > 0)
    for d in PREFIX_DIMS:
        base = base.withColumn(
            f"__e{d}",
            F.expr(
                f"aggregate(slice(q, 1, {int(d)}), cast(0 as long),"
                " (acc, v) -> acc + v * v)"
            ),
        )
    # ONE aggregate computes every prefix's moments (a per-d agg
    # would rescan the corpus once per prefix — no cross-branch
    # exchange reuse), then the 1-row result unpivots to 5 rows.
    aggs = [F.count(F.lit(1)).cast("long").alias("n_vecs")]
    for d in PREFIX_DIMS:
        aggs.append(
            F.expr(
                f"cast((sum(cast(__e{d} as decimal(38,0))) * 1000000)"
                " DIV sum(cast(n2 as decimal(38,0))) as long)"
            ).alias(f"tot{d}")
        )
        aggs.append(
            F.min(F.expr(f"(1000000 * __e{d}) DIV n2"))
            .cast("long")
            .alias(f"min{d}")
        )
    one = base.agg(*aggs)
    structs = ", ".join(
        f"named_struct('prefix_dim', cast({int(d)} as long),"
        f" 'total_captured_ppm', tot{d}, 'min_vec_ppm', min{d})"
        for d in PREFIX_DIMS
    )
    return (
        one.select(
            F.explode(F.expr(f"array({structs})")).alias("s"), "n_vecs"
        )
        .select(
            F.col("s.prefix_dim").alias("prefix_dim"),
            F.col("s.total_captured_ppm").alias("total_captured_ppm"),
            F.col("s.min_vec_ppm").alias("min_vec_ppm"),
            "n_vecs",
        )
        .orderBy("prefix_dim")
    )


def kmeans_lloyd(embeddings: DataFrame) -> DataFrame:
    """One EXACT Lloyd (k-means) refinement iteration, expressed
    relationally — the iterative-ML-on-a-DataFrame pattern: seed
    centroids are the fixed md5-derived integer constants (the
    ivf_topk_exact coarse quantizer), every vector is assigned to its
    nearest seed (exact integer squared L2, ties to the lowest cell),
    centroids are recomputed as the exact floor-scaled member mean,
    and vectors re-assign under the refined centroids. Per final
    cluster the audit emits size, how many members arrived by
    reassignment, and the mean squared distance (the per-cluster
    inertia a training loop would watch for convergence). MLlib's
    KMeans keeps its state engine-private; this step is
    hash-reproducible anywhere, which is what a data-pipeline audit
    (not a model-training run) needs.

    Exactness: q = floor(v·2^8) once; refined centroid component
    c1 = floor(2^10·Σq / n) via pmod-subtraction + integral division
    (truncating division of an exact multiple — identical in Spark
    DIV and DuckDB //); iteration-2 distances compare 2^10·q against
    c1, all int64 (|diff| ≤ 2^19, d2 ≤ 64·2^38 < 2^45); per-cluster
    d2 sums accumulate in DECIMAL(38,0) before the exact integral
    mean (int64 would wrap past ~2^18 members per cluster).

    Scale shape: assignment passes are zero-shuffle row-local array
    folds (seed literals inline; refined centroids collapse to ONE
    k-row broadcast row — collect_list bounded by 16, and the
    per-cluster coordinate array by the fixed DIM). The only
    shuffles are the k·DIM-row centroid update and the final k-row
    audit aggregate; the corpus is scanned twice (assign, re-assign)
    and never joined to itself. Empty seed cells drop out of the
    refinement (standard Lloyd degeneracy), so absent cluster_ids in
    the output mean dead seeds.

    Output: (cluster_id, n_members, n_reassigned, mean_d2) where
    mean_d2 is in (2^(8+10))²-scaled squared units.
    """
    cents = md5_centroids(DIM, 16, 1 << SCALE_BITS)
    scale = 1 << 10
    base = ensure_parallelism(embeddings).select(
        F.col(VEC_ID).alias("vec_id"),
        _quantize(F.col(EMBEDDING), SCALE_BITS).alias("q"),
    )
    assigned0 = base.select(
        "vec_id", "q", F.expr(_cells_sorted_expr(cents) + "[0].c").alias("c0")
    )
    # two consumers (update, re-assignment)
    assigned0 = materialize(assigned0)

    upd = (
        assigned0.select("c0", F.posexplode("q").alias("pos", "qd"))
        .groupBy("c0", "pos")
        .agg(
            F.sum("qd").alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "c0",
            "pos",
            # floor(scale·s / n): subtract the positive mod, then the
            # now-exact multiple divides exactly under truncation
            F.expr(
                f"(s * {scale} - pmod(s * {scale}, n)) DIV n"
            ).alias("c1"),
        )
    )
    cent1 = upd.groupBy("c0").agg(
        F.expr(
            # fixed-dim coordinate array, ordered by pos
            "transform(array_sort(collect_list(named_struct("
            "'pos', pos, 'v', c1))), s -> s.v)"
        ).alias("cent")
    )
    # k rows -> ONE broadcast row holding every refined centroid
    cent_row = cent1.agg(
        F.expr(
            "array_sort(collect_list(named_struct('c', c0, 'cent', cent)))"
        ).alias("cents")
    )
    re_expr = (
        "array_sort(transform(cents, s -> named_struct("
        f"'d2', aggregate(zip_with(q, s.cent, (x, y) ->"
        f" (x * {scale} - y) * (x * {scale} - y)),"
        " cast(0 as long), (acc, v) -> acc + v),"
        " 'c', s.c)))[0]"
    )
    re = assigned0.crossJoin(F.broadcast(cent_row)).select(
        "vec_id",
        "c0",
        F.expr(re_expr).alias("pick"),
    )
    return (
        re.groupBy(F.col("pick.c").cast("long").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum(
                F.when(F.col("c0") != F.col("pick.c"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_reassigned"),
            F.expr(
                "cast(sum(cast(pick.d2 as decimal(38,0)))"
                " div count(1) as bigint)"
            ).alias("mean_d2"),
        )
        .select("cluster_id", "n_members", "n_reassigned", "mean_d2")
    )


def pca_power(emb: DataFrame) -> DataFrame:
    """Top principal component of the embedding cloud by integer-
    exact power iteration — the anisotropy audit behind "is this
    embedding space collapsing onto one direction?" (a dominant
    component share means cosine similarity degenerates and ANN
    bucketing loses discrimination; complements dim_variance_audit,
    which sees only per-coordinate spread, not cross-coordinate
    structure).

    Exactness strategy: components quantize to q = floor(val·2^12);
    each vector is augmented with a constant 2^12 slot so ONE
    explode + ONE hash aggregate yields the full augmented Gram
    G(i,j) = Σ q_i q_j, from which the (scaled, mean-centered)
    scatter matrix M'_ij = G(d,d)·G(i,j) − G(i,d)·G(j,d)
    = 2^24·(n·Σq_iq_j − Σq_i·Σq_j) follows in pure integer
    arithmetic (M' ∝ n²·covariance — positive semidefinite, same
    eigenvectors). M' is then rescaled onto a 2^20 grid (uniform
    scaling changes neither eigenvectors nor the rayleigh/trace
    share) and power iteration runs on the ≤dim² matrix RELATION:
    w = M·v (join + agg), renormalized to max|v| = 2^12 by
    sign-aware truncating division (floor-equal on both engines
    because the operand is non-negative) — every iterate is a
    DECIMAL(38,0) integer, so Spark and the DuckDB oracle agree
    bit-for-bit; the all-ones seed makes the eigenvector sign
    deterministic. Overflow headroom: M'·2^20 must fit
    DECIMAL(38,0) ⇒ exact to n ≈ 4·10⁹ vectors at 12 scale bits.

    Scale shape: the corpus pass is the explode + map-side-combined
    hash aggregate into (DIM+1)² groups — the same one-pass Gramian
    any distributed PCA computes; everything after operates on the
    dim²-row matrix relation (metadata scale), materialized
    once because all 8 multiplies branch from it.

    Output per dimension: (pos, v_q, eig_share_ppm) — v_q the final
    eigenvector component at 2^12 scale, eig_share_ppm =
    floor(1e6 · rayleigh(v) / trace(M)): the top component's share
    of total variance (1e6/DIM ⇒ isotropic; → 1e6 ⇒ collapsed).
    """
    S = 1 << 12
    qa = emb.select(
        F.array_append(
            _quantize(F.col("embedding"), 12), F.lit(S).cast("long")
        ).alias("qa")
    )
    # Upper triangle only: the second explode slices the array tail,
    # halving generated rows (G is symmetric); products and sums stay
    # LONG inside the codegen'd hash agg — exact to n ≈ 5·10¹¹ rows
    # since |q_i·q_j| ≤ 2^24 — and widen to decimal only at the edge.
    ex = qa.select(
        F.posexplode("qa").alias("i", "qi"), F.col("qa")
    ).select(
        "i",
        "qi",
        F.posexplode(
            F.expr("slice(qa, i + 1, size(qa) - i)")
        ).alias("dj", "qj"),
    )
    # five consumers (four scatter-matrix branches, the trace)
    gram_ut = materialize(
        ex.groupBy("i", (F.col("i") + F.col("dj")).alias("j"))
        .agg(
            F.sum(F.col("qi") * F.col("qj"))
            .cast("decimal(38,0)")
            .alias("g")
        ),
        eager=True,
    )
    gram = gram_ut.unionAll(
        gram_ut.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "g"
        )
    )
    gdd = gram.filter(
        (F.col("i") == DIM) & (F.col("j") == DIM)
    ).select(F.col("g").alias("gdd"))
    gid = gram.filter(
        (F.col("j") == DIM) & (F.col("i") < DIM)
    ).select(F.col("i").alias("gi"), F.col("g").alias("gd"))
    m = (
        gram.filter((F.col("i") < DIM) & (F.col("j") < DIM))
        .join(F.broadcast(gdd))
        .join(F.broadcast(gid).withColumnRenamed("gi", "i_"), F.col("i") == F.col("i_"))
        .join(
            F.broadcast(gid.select(F.col("gi").alias("j_"), F.col("gd").alias("gd2"))),
            F.col("j") == F.col("j_"),
        )
        .select(
            "i",
            "j",
            (
                F.col("gdd") * F.col("g") - F.col("gd") * F.col("gd2")
            ).alias("mr"),
        )
    )
    # Rescale the scatter matrix onto a 2^20 grid before iterating:
    # uniform scaling preserves eigenvectors and the rayleigh/trace
    # share exactly, and it keeps every later DIV quotient inside
    # int64 (Spark's decimal DIV returns LONG) — without this, n²·S⁴
    # magnitudes overflow the integral divide around n ≈ 10⁶.
    mmax = m.agg(
        F.greatest(
            F.max(F.abs(F.col("mr"))), F.lit(1).cast("decimal(38,0)")
        ).alias("mmax")
    )
    m = materialize(
        m.join(F.broadcast(mmax))
        .select(
            "i",
            "j",
            F.expr(
                "CAST(CASE WHEN mr < 0 THEN -((-mr * 1048576) DIV mmax)"
                " ELSE (mr * 1048576) DIV mmax END AS DECIMAL(38,0))"
            ).alias("m"),
        ),
        eager=True,
    )
    v = m.select("j").distinct().select(
        "j", F.lit(S).cast("decimal(38,0)").alias("v")
    )
    from pyspark.sql.window import Window

    # The renormalizing max comes from an unpartitioned window over
    # the ≤dim-row iterate (bounded relation, SCALING.md §5) — one
    # relation, so each iteration needs exactly ONE materialize.
    # The checkpoint is load-bearing: w feeds both the max and the
    # rescale, and v feeds the next multiply — without truncation the
    # logical plan doubles per iteration (2^iters subtree copies; no
    # cross-branch reuse).
    wall = Window.partitionBy()
    # every multiply joins the ≤dim-row iterate v onto the dim²-row
    # matrix relation — broadcast the iterate (metadata scale; an SMJ
    # would sort both bounded relations every iteration)
    for _ in range(8):
        w = (
            m.join(F.broadcast(v), "j")
            .groupBy("i")
            .agg(F.sum(F.col("m") * F.col("v")).alias("w"))
        )
        v = materialize(
            w.withColumn(
                "mx",
                F.greatest(
                    F.max(F.abs(F.col("w"))).over(wall),
                    F.lit(1).cast("decimal(38,0)"),
                ),
            )
            .select(
                F.col("i").alias("j"),
                F.expr(
                    f"CAST(CASE WHEN w < 0 THEN -((-w * {S}) DIV mx)"
                    f" ELSE (w * {S}) DIV mx END AS DECIMAL(38,0))"
                ).alias("v"),
            ),
            eager=True,
        )
    w_fin = (
        m.join(F.broadcast(v), "j")
        .groupBy("i")
        .agg(F.sum(F.col("m") * F.col("v")).alias("w"))
    )
    stats = (
        w_fin.join(F.broadcast(v.select(F.col("j").alias("i"), "v")), "i")
        .agg(
            F.sum(F.col("v") * F.col("w")).alias("num"),
            F.sum(F.col("v") * F.col("v")).alias("den"),
        )
    )
    tr = m.filter(F.col("i") == F.col("j")).agg(
        F.sum("m").alias("tr")
    )
    share = stats.join(F.broadcast(tr)).select(
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * num)"
            " DIV (den * tr) AS LONG)"
        ).alias("eig_share_ppm")
    )
    return (
        v.join(F.broadcast(share))
        .select(
            F.col("j").cast("int").alias("pos"),
            F.col("v").cast("long").alias("v_q"),
            "eig_share_ppm",
        )
    )


def retrieval_rank_eval(
    embeddings: DataFrame,
    query_mod: int = 50,
) -> DataFrame:
    """Ranking-quality metrics of the sign-LSH index, the companion
    to ann_recall_eval: recall asks "did the true neighbors make the
    candidate list at all?", this asks "did they surface at the TOP
    of the ranked list the application actually consumes?". Per
    sampled query, against the exact brute-force top-k as the
    relevant set: reciprocal rank of the first relevant retrieved
    item (MRR numerator), precision@k, and hit@1 — the metrics a
    retrieval deployment tracks per release. All integer-exact:
    rr_ppm = 1e6 DIV first-relevant-rank (0 when the index surfaces
    no true neighbor), so no transcendental (NDCG's log2) ever
    enters the hash comparison.

    Scale contract is ann_recall_eval's, unchanged: bounded
    1/query_mod broadcast query panel vs the full corpus on the
    ground-truth side, production bucket plan on the approx side,
    WindowGroupLimit top-k. Queries whose buckets yield no candidate
    at all still emit a row (zeros) — a silent disappearance would
    overstate every averaged metric downstream.

    Output per query: (query_id, n_retrieved, rr_ppm,
    precision_ppm, hit_at_1).
    """
    bucketed = _exact_bucketed(
        embeddings, N_PLANES, N_TABLES, DIM, SCALE_BITS, VEC_ID, EMBEDDING
    )
    base = bucketed[0]  # checkpointed inside _exact_bucketed
    relevant = _panel_topk(
        base.filter(F.col("n2") > 0), VEC_ID, query_mod, 5
    ).select("query_id", "neighbor_id", F.lit(1).alias("__rel"))
    approx = lsh_topk_exact(
        embeddings,
        bucketed=bucketed,
    ).filter(F.col("query_id") % query_mod == 0)
    # relevant/scored are panel-scale (n_queries × k, the broadcast
    # query panel's own fan-out) — hint them like the panel itself so
    # the two scoring joins never devolve to sort-both-sides SMJs
    scored = (
        approx.join(F.broadcast(relevant), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_retrieved"),
            F.expr(
                "coalesce(1000000 DIV min(CASE WHEN __rel = 1"
                " THEN rank END), 0)"
            ).cast("long").alias("rr_ppm"),
            F.expr(
                "CAST((1000000 * sum(coalesce(__rel, 0))) DIV 5"
                " AS BIGINT)"
            ).alias("precision_ppm"),
            F.expr(
                "max(CASE WHEN rank = 1 AND __rel = 1 THEN 1"
                " ELSE 0 END) = 1"
            ).alias("hit_at_1"),
        )
    )
    panel = relevant.select("query_id").distinct()
    return panel.join(F.broadcast(scored), "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_retrieved"), F.lit(0)).cast("long").alias("n_retrieved"),
        F.coalesce(F.col("rr_ppm"), F.lit(0)).cast("long").alias("rr_ppm"),
        F.coalesce(F.col("precision_ppm"), F.lit(0)).cast("long").alias("precision_ppm"),
        F.coalesce(F.col("hit_at_1"), F.lit(False)).alias("hit_at_1"),
    )


def md5_pq_codebook(
    n_sub: int = 8,
    n_codes: int = 16,
    sub_dim: int = 8,
) -> list[list[list[int]]]:
    """Integer PQ codewords derived from md5 — engine-independent
    CONSTANTS (component = md5("pq_{m}_{c}_{d}") first 16 bits mod
    (2·HALF_RANGE+1), shifted to [−HALF_RANGE, HALF_RANGE], the same
    grid as q = floor(v·256)), reproducible anywhere, literals
    included in the DuckDB oracle. Returns codebook[m][c][d]."""
    import hashlib

    mod = 2 * HALF_RANGE + 1
    return [
        [
            [
                int(
                    hashlib.md5(f"pq_{m}_{c}_{d}".encode()).hexdigest()[:4],
                    16,
                )
                % mod
                - HALF_RANGE
                for d in range(sub_dim)
            ]
            for c in range(n_codes)
        ]
        for m in range(n_sub)
    ]


def pq_codebook_audit(embeddings: DataFrame) -> DataFrame:
    """Product-quantization codebook audit — the pre-flight check
    before committing a corpus to PQ-compressed vector search (the
    memory-bound scale path: a 64-dim float vector collapses to
    N_SUB code bytes). Vectors split into N_SUB subspaces; each
    subvector assigns to its nearest md5-seeded codeword (exact
    integer squared L2, ties to the lowest code). Per (subspace,
    code) cell the audit reports occupancy (a skewed cell means the
    codebook wastes bits — compare embedding_ivf_balance) and TWO
    distortions: under the seed codeword, and under the
    one-Lloyd-step refined codeword. The refined figure needs NO
    second corpus pass: with membership fixed, the post-update
    squared distortion is the member variance, recovered exactly
    from (n, Σq, Σq²) per coordinate — n·Σq² − (Σq)² over n².

    One corpus scan total: assignment is a row-local fold over
    literal codewords (zero shuffle), then ONE hash aggregate into
    the N_SUB·16·sub_dim coordinate grid; everything after is
    metadata scale (the per-subspace totals come from a window over
    the 16-row bounded relation, SCALING.md §5).

    Output per cell: (subspace, code, n_assigned, occupancy_ppm,
    mean_seed_d2, mean_refined_d2) — d2 in 2^(2·SCALE_BITS)-scaled
    squared units; refined ≤ seed always (Lloyd monotonicity), and
    the gap is the payoff of training the codebook on this corpus.
    Codes no subvector chose are absent (dead codewords — the same
    Lloyd degeneracy kmeans_lloyd documents): 128 output rows means
    every bit of the code budget is earning its keep.
    """
    from pyspark.sql.window import Window

    sub_dim = DIM // N_SUB
    book = md5_pq_codebook(N_SUB, 16, sub_dim)
    base = embeddings.select(
        F.col(VEC_ID).alias("vec_id"),
        _quantize(F.col(EMBEDDING), SCALE_BITS).alias("q"),
    )
    sub_structs = ", ".join(
        f"named_struct('m', {m}, 'a', "
        + _cells_sorted_expr(book[m], f"slice(q, {m * sub_dim + 1}, {sub_dim})")
        + "[0])"
        for m in range(N_SUB)
    )
    assigned = base.select(
        "q",
        F.explode(F.expr(f"array({sub_structs})")).alias("s"),
    ).select(
        F.col("s.m").alias("m"),
        F.col("s.a.c").alias("c"),
        F.col("s.a.d2").alias("d2"),
        "q",
    )
    coords = assigned.select(
        "m",
        "c",
        "d2",
        F.posexplode(
            F.expr(
                f"slice(q, m * {sub_dim} + 1, {sub_dim})"
            )
        ).alias("pos", "qd"),
    )
    per_coord = coords.groupBy("m", "c", "pos").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("qd").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("qd") * F.col("qd")).cast("decimal(38,0)").alias("ss"),
        F.sum("d2").cast("decimal(38,0)").alias("sd2"),
    )
    per_cell = per_coord.groupBy("m", "c").agg(
        F.max("n").alias("n_assigned"),
        # d2 was replicated once per coordinate: divide back exactly
        F.expr(f"CAST(sum(sd2) DIV {sub_dim} AS DECIMAL(38,0))").alias(
            "seed_d2_sum"
        ),
        F.sum(
            F.col("n") * F.col("ss") - F.col("s") * F.col("s")
        ).alias("var_num"),
    )
    wsub = Window.partitionBy("m")
    return per_cell.withColumn(
        "n_sub_total", F.sum("n_assigned").over(wsub)
    ).select(
        F.col("m").cast("int").alias("subspace"),
        F.col("c").cast("int").alias("code"),
        F.col("n_assigned").cast("long").alias("n_assigned"),
        F.expr(
            "CAST(1000000 * n_assigned DIV greatest(n_sub_total, 1)"
            " AS BIGINT)"
        ).alias("occupancy_ppm"),
        F.expr(
            "CAST(seed_d2_sum DIV n_assigned AS BIGINT)"
        ).alias("mean_seed_d2"),
        F.expr(
            "CAST(var_num DIV (CAST(n_assigned AS DECIMAL(38,0))"
            " * n_assigned) AS BIGINT)"
        ).alias("mean_refined_d2"),
    )


def matryoshka_audit(
    embeddings: DataFrame,
    prefix_dims: tuple[int, ...] = (16, 32),
    dim: int = 64,
) -> DataFrame:
    """Matryoshka-truncation audit (Kusupati et al. 2022): recall@k of
    PREFIX-dimension cosine retrieval against full-dimension retrieval
    — the measurement behind "can I serve the 16-dim head of this
    embedding and keep the neighbors", which prices the memory/recall
    trade of MRL-style deployments before anyone re-indexes.

    Shape (the ann_recall_eval contract): vectors quantize once to
    integers (floor(x·2^SCALE_BITS) — the shared exact tier), per-row
    prefix norms come from row-local folds, the query panel is a
    deterministic 1/QUERY_MOD id-sample BROADCAST against the corpus
    (bounded spot-check, never all-pairs), and every per-query top-k
    compiles to WindowGroupLimit (per-task partial top-k before the
    exchange). One pair relation carries the cosine at every prefix,
    so adding prefixes costs row-local dots, not extra joins.

    Determinism: integer dots are exact; the single float step
    (floor(1e6·dot/(√n2·√n2))) is the ann_recall_eval-proven
    cross-engine formula; ties break on neighbor id.

    Output per (sampled query, prefix): (query_id, prefix_dim,
    n_exact, n_hits, recall_ppm).
    """
    # Dedupe the prefixes against the full dim: prefix_dims containing
    # `dim` would otherwise emit duplicate n2_<dim> aliases and fail
    # with an opaque AnalysisException.
    dims = tuple(sorted(set(prefix_dims) - {dim})) + (dim,)
    base = ensure_parallelism(embeddings).select(
        F.col(VEC_ID), _quantize(F.col(EMBEDDING), SCALE_BITS).alias("q")
    )
    base = materialize(base.select(
        VEC_ID,
        "q",
        *[
            int_dot(F.slice("q", 1, d), F.slice("q", 1, d)).alias(f"n2_{d}")
            for d in dims
        ],
    ))
    panel = base.filter(
        (F.col(VEC_ID) % QUERY_MOD == 0) & (F.col(f"n2_{dim}") > 0)
    ).select(
        F.col(VEC_ID).alias("query_id"),
        F.col("q").alias("qq"),
        *[F.col(f"n2_{d}").alias(f"qn2_{d}") for d in dims],
    )
    pairs = materialize(
        base.filter(F.col(f"n2_{dim}") > 0)
        .crossJoin(F.broadcast(panel))
        .filter(F.col(VEC_ID) != F.col("query_id"))
        .select(
            "query_id",
            F.col(VEC_ID).alias("neighbor_id"),
            *[
                # Zero-prefix guard: a vector whose first d quantized
                # dims are all zero has n2_d = 0; the bare division
                # yields NULL in Spark but inf in DuckDB (where
                # floor(inf)::BIGINT errors) — pin both engines to 0 so
                # zero-prefix vectors rank deterministically.
                F.when(
                    (F.col(f"n2_{d}") == 0) | (F.col(f"qn2_{d}") == 0),
                    F.lit(0).cast("long"),
                )
                .otherwise(
                    _cos_mppm(
                        int_dot(F.slice("q", 1, d), F.slice("qq", 1, d)),
                        f"n2_{d}",
                        f"qn2_{d}",
                    )
                )
                .alias(f"cos_{d}")
                for d in dims
            ],
        )  # shared by every prefix ranking
    )

    def topk(d: int) -> DataFrame:
        return _topk(pairs, 5, f"cos_{d}", rank="__r").select(
            "query_id", "neighbor_id"
        )

    # the per-prefix comparisons join panel-scale (n_queries × k)
    # relations — broadcast them like the panel itself (the audit
    # sample is broadcast-scale by design; an SMJ here would sort the
    # same bounded relation four times)
    full = materialize(topk(dim))
    out = None
    for d in dims[:-1]:
        hits = (
            full.join(
                F.broadcast(topk(d)), ["query_id", "neighbor_id"], "semi"
            )
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
        )
        rel = (
            full.groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
            .join(F.broadcast(hits), "query_id", "left")
            .select(
                "query_id",
                F.lit(d).cast("long").alias("prefix_dim"),
                "n_exact",
                F.coalesce(F.col("n_hits"), F.lit(0))
                .cast("long")
                .alias("n_hits"),
            )
            .withColumn(
                "recall_ppm",
                F.expr(
                    "CAST(1000000 * n_hits DIV n_exact AS BIGINT)"
                ),
            )
        )
        out = rel if out is None else out.unionByName(rel)
    return out
