"""Iterative graph algorithms over near-dup pair graphs.

Connected components lives in operators/dedup.py (min-label
propagation); this module adds PageRank — the second iterative shape:
a fixed number of synchronous rounds, each one join + one aggregate,
with `materialize` truncating lineage so round N's plan does not
embed rounds 1..N-1.

Scale posture: state per round is one (node, rank) row per node and
one (src, dst) row per edge — both shuffle on uniform id keys; the
driver sees only the node count (one scalar). A fixed iteration count
(not convergence detection) keeps the oracle expressible as unrolled
SQL and the job count bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from iceberg_diag_spark.functions.parallel import materialize

# Columns and tuning constants of the operators below.
DAMPING = 0.85
DOC_A = "doc_a"
DOC_B = "doc_b"
DOC_ID = "doc_id"


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = 10,
) -> DataFrame:
    """Simplified PageRank on the undirected pair graph (each pair
    contributes both directions). Per round:

        rank'(v) = (1-d)/N + d * Σ_{u→v} rank(u) / deg(u)

    Dangling mass is NOT redistributed (isolated nodes settle at
    (1-d)/N) — the textbook simplification, chosen so the semantics
    are exactly mirrorable in the unrolled-SQL oracle. Output:
    (doc_id, pagerank) with rank rounded to 9 decimals.
    """
    both = edges.select(F.col(DOC_A).alias("src"), F.col(DOC_B).alias("dst"))
    both = materialize(both.unionByName(
        both.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ), eager=True)
    deg = materialize(both.groupBy("src").agg(F.count("*").alias("deg")), eager=True)
    node_ids = materialize(nodes.select(F.col(DOC_ID).alias("node")), eager=True)
    n = node_ids.count()
    base = (1.0 - DAMPING) / n
    ranks = node_ids.select("node", F.lit(1.0 / n).alias("rank"))
    for _ in range(iterations):
        contribs = (
            both.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
        )
        summed = contribs.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = materialize(
            node_ids.join(summed, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(DAMPING) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("rank"),
            ),
            eager=True,
        )
    return ranks.select(
        F.col("node").alias(DOC_ID), F.round("rank", 9).alias("pagerank")
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count over an oriented edge list (a < b on
    every edge — the near-dup pair convention). Orientation makes
    each triangle {a<b<c} countable exactly once as the join
    e(a,b) ⋈ e(b,c) ⋈ e(a,c): the standard two-path + closing-edge
    formulation, two shuffles on uniform id keys, never an all-pairs
    product. Duplicate-cluster density shows up as a triangle-to-edge
    ratio near its clique maximum. Output: one row
    (edge_count, triangle_count)."""
    e = materialize(edges.select(DOC_A, DOC_B).distinct(), eager=True)
    e1 = e.select(F.col(DOC_A).alias("a"), F.col(DOC_B).alias("b"))
    e2 = e.select(F.col(DOC_A).alias("b"), F.col(DOC_B).alias("c"))
    e3 = e.select(F.col(DOC_A).alias("a"), F.col(DOC_B).alias("c"))
    wedges = e1.join(e2, "b")
    triangles = wedges.join(e3, ["a", "c"])
    return e.agg(F.count(F.lit(1)).alias("edge_count")).crossJoin(
        triangles.agg(F.count(F.lit(1)).alias("triangle_count"))
    )


def kcore(
    nodes: DataFrame,
    edges: DataFrame,
    k: int = 2,
    rounds: int = 8,
) -> DataFrame:
    """k-core decomposition membership: the maximal subgraph where
    every node keeps ≥ k neighbors — the cluster-DENSITY signal the
    other graph ops don't give. On a near-dup graph, star clusters
    (one template, many copies) have an EMPTY 2-core, while
    genuinely interlinked content farms survive it; `k`-core
    membership therefore separates "one boilerplate source" from
    "mutually-copying cluster" before anyone reads the documents.

    Simultaneous peeling, `rounds` fixed iterations (mirroring the
    unrolled-SQL oracle, the PageRank contract): each round drops
    every node whose degree among surviving nodes is < k. Each round
    is two semi joins + one aggregate on the uniform node key, with
    materialize truncating the lineage. Raises RuntimeError if
    the peel has not stabilized after `rounds` (the last two rounds
    still differed) — near-dup graphs peel in a handful of rounds.

    Output: (doc_id, core_degree) for k-core members, core_degree =
    the node's degree within the final core.
    """
    both = edges.select(F.col(DOC_A).alias("src"), F.col(DOC_B).alias("dst"))
    both = materialize(
        both.unionByName(
            both.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct(),
        eager=True,
    )
    surv = materialize(nodes.select(F.col(DOC_ID).alias("node")), eager=True)
    # The peel is monotone (survivor sets only shrink), so an
    # unchanged count IS the fixpoint — running the remaining rounds
    # would be identity. Early exit keeps the result bit-identical
    # to the oracle's full fixed unroll while skipping dead rounds.
    prev_n = surv.count()
    stabilized = False
    for _ in range(rounds):
        alive = (
            both.join(surv.withColumnRenamed("node", "src"), "src", "semi")
            .join(surv.withColumnRenamed("node", "dst"), "dst", "semi")
        )
        surv = materialize(
            alive.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select(F.col("src").alias("node")),
            eager=True,
        )
        n = surv.count()
        if n == prev_n:
            stabilized = True
            break
        prev_n = n
    final = (
        both.join(surv.withColumnRenamed("node", "src"), "src", "semi")
        .join(surv.withColumnRenamed("node", "dst"), "dst", "semi")
        .groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
        .filter(F.col("core_degree") >= k)
    )
    if not stabilized and final.count() != prev_n:
        raise RuntimeError(
            f"k-core peel did not stabilize in {rounds} rounds — raise "
            "`rounds` for graphs beyond the near-dup regime"
        )
    return final.select(F.col("src").alias(DOC_ID), "core_degree")


def source_modularity(docs: DataFrame) -> DataFrame:
    """Newman modularity of the SOURCE partition over the near-dup
    candidate graph — the one-number answer to "is duplication
    source-assortative?": intra-site boilerplate drives Q toward the
    partition maximum, cross-source syndication/plagiarism drives it
    toward (and below) zero. Per-source contributions localize which
    domains dominate either regime.

        Q = Σ_c [ m_c/m − (d_c / 2m)² ]

    with m = candidate edges, m_c = intra-source edges, d_c = endpoint
    degree mass of source c. Unlike the connected-components collapse
    (whose partition makes every edge intra-cluster by construction),
    the source labels are an EXTERNAL partition, so Q is informative.

    Scale: one production banding pass for the pairs, two uniform-id
    joins to label endpoints, then everything aggregates to the
    |sources| relation; the edge total is a broadcast 1-row scalar.
    Per-source terms can be negative, so the integer division uses
    the shift trick ((X + K·Y) DIV Y − K) where Spark's truncating
    DIV and DuckDB's flooring // agree; all products in
    DECIMAL(38,0) (m² passes int64 only to m ≈ 3e9 edges).

    Output per source with ≥1 labeled endpoint: (source, degree_sum,
    intra_edges, q_contrib_micro); Q_micro = Σ q_contrib_micro.
    """
    from iceberg_diag_spark.operators.dedup import minhash_candidate_pairs

    pairs = materialize(minhash_candidate_pairs(docs))
    lab = docs.select(F.col(DOC_ID), F.col("source").alias("src"))
    e = materialize(
        pairs.select("doc_a", "doc_b")
        .join(
            lab.withColumnRenamed(DOC_ID, "doc_a").withColumnRenamed(
                "src", "src_a"
            ),
            "doc_a",
        )
        .join(
            lab.withColumnRenamed(DOC_ID, "doc_b").withColumnRenamed(
                "src", "src_b"
            ),
            "doc_b",
        )  # consumed by m / intra / degrees
    )
    m_rel = e.agg(F.count(F.lit(1)).cast("long").alias("m"))
    intra = (
        e.filter(F.col("src_a") == F.col("src_b"))
        .groupBy(F.col("src_a").alias("source"))
        .agg(F.count(F.lit(1)).cast("long").alias("intra_edges"))
    )
    deg = (
        e.select(F.col("src_a").alias("source"))
        .unionByName(e.select(F.col("src_b").alias("source")))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("degree_sum"))
    )
    return (
        deg.join(intra, "source", "left")
        .select(
            "source",
            "degree_sum",
            F.coalesce(F.col("intra_edges"), F.lit(0))
            .cast("long")
            .alias("intra_edges"),
        )
        .crossJoin(F.broadcast(m_rel))
        .select(
            "source",
            "degree_sum",
            "intra_edges",
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0))"
                "        * (4 * CAST(m AS DECIMAL(38,0)) * intra_edges"
                "           - CAST(degree_sum AS DECIMAL(38,0))"
                "             * degree_sum)"
                "      + CAST(1000000 AS DECIMAL(38,0))"
                "        * (4 * CAST(m AS DECIMAL(38,0)) * m))"
                " DIV (4 * CAST(m AS DECIMAL(38,0)) * m)"
                " - 1000000 AS BIGINT)"
            ).alias("q_contrib_micro"),
        )
    )
