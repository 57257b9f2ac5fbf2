"""Similarity-search quality: the approximate paths (sign-LSH, IVF)
are rows-only in the oracle gate, so recall against exact brute force
is pinned here, plus the candidate-reduction property that makes them
the scale path.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iceberg_diag_spark.operators import similarity
from iceberg_diag_spark.sources.tpch import load_table

SF_DIR = "/root/testdata/sf0.001"
K = 5


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") < 10)


@pytest.fixture(scope="module")
def exact(emb, queries):
    rows = similarity.cosine_topk(emb, queries, k=K).collect()
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def _recall(approx_rows, exact_sets):
    hits = total = 0
    got: dict[int, set[int]] = {}
    for r in approx_rows:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    for qid, want in exact_sets.items():
        total += len(want)
        hits += len(want & got.get(qid, set()))
    return hits / max(total, 1)


def test_ivf_recall_and_reduction(emb, queries, exact):
    approx = similarity.ivf_topk(emb, queries, k=K, n_lists=16, n_probe=4)
    rows = approx.collect()
    # probing 4/16 lists must beat random-quarter recall by a wide
    # margin (clustered candidates) — and stay a strict subset of work
    assert _recall(rows, exact) >= 0.5
    # every query returns k ranked rows with valid ranks
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    for qid, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), qid


def test_lsh_near_dup_recall(emb):
    """Sign-LSH is a near-dup instrument: on the strong-pair ground
    truth (cos >= 0.45) the multi-table defaults must recover almost
    everything while generating far fewer pairs than the quadratic
    exact variant."""
    want = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in similarity.embedding_near_dup(emb, threshold=0.45).collect()
    }
    got = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in similarity.lsh_near_dup_pairs(emb, threshold=0.45).collect()
    }
    assert want, "ground truth should not be empty"
    # no false positives (candidates are exactly re-scored)
    assert set(got) <= set(want)
    recall = len(got) / len(want)
    assert recall >= 0.85, (recall, len(want))
    for pair, cs in got.items():
        assert cs == want[pair], pair
    # candidate volume shrinks vs the quadratic pair space — modest
    # at 500 vectors/2^4 buckets (pruning sharpens as n_planes grows
    # with the corpus; recall×cost tradeoff is the point, not the
    # absolute ratio at toy scale)
    n = emb.count()
    cand_count = similarity.lsh_candidates(emb).count()
    assert cand_count < 0.8 * n * (n - 1), cand_count


def test_lsh_topk_well_formed(emb, queries, exact):
    rows = [r for r in similarity.lsh_topk(emb, k=K).collect() if r.query_id < 10]
    per_q: dict[int, list[int]] = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    for qid, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), qid


def test_exact_topk_is_symmetric_baseline(emb, queries, exact):
    # sanity: exact top-k has exactly K neighbors per query, ranks 1..K
    assert set(exact) == set(range(10))
    for qid, n in exact.items():
        assert len(n) == K, qid


def test_quadratic_tiers_guarded(spark):
    """The exact O(n²) tiers refuse oversized corpora and route the
    caller to their bucketed siblings; max_corpus_rows=None forces."""
    import pytest

    from iceberg_diag_spark.operators import similarity as sim

    emb = spark.range(4).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.col("id").cast("double")).alias("embedding"),
    )
    with pytest.raises(ValueError, match="lsh_near_dup_pairs"):
        sim.embedding_near_dup(emb, max_corpus_rows=3)
    with pytest.raises(ValueError, match="lsh_topk"):
        sim.cosine_topk(emb, max_corpus_rows=3)
    # bounded explicit query set is not quadratic -> no guard
    q = emb.limit(1)
    assert sim.cosine_topk(emb, queries=q, max_corpus_rows=3).count() > 0
    # forcing works
    assert sim.embedding_near_dup(emb, threshold=-1.0, max_corpus_rows=None).count() == 6


def _stage_sites() -> dict[str, set[str]]:
    """Top-level function (as `module:function`) of every place under
    operators/ that builds one of the exact ANN stages."""
    import ast
    import pathlib

    import iceberg_diag_spark

    ops = pathlib.Path(iceberg_diag_spark.__file__).parent / "operators"
    sites: dict[str, set[str]] = {
        "quantize": set(), "cos_mppm": set(), "cell_d2": set(),
        "row_number": set(),
    }

    def is_call(node, attr):
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == attr
        )

    for path in sorted(ops.glob("*.py")):
        tree = ast.parse(path.read_text())
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            where = f"{path.stem}:{fn.name}"
            for n in ast.walk(fn):
                arg = n.args[0] if is_call(n, "floor") and n.args else None
                # quantize: floor(<x>.cast("double") * <scale>)
                if (
                    isinstance(arg, ast.BinOp)
                    and isinstance(arg.op, ast.Mult)
                    and is_call(arg.left, "cast")
                    and ast.unparse(arg.left.args[0]) == "'double'"
                ):
                    sites["quantize"].add(where)
                # cos_mppm: floor(1e6 * d / (sqrt(.) * sqrt(.)))
                if (
                    isinstance(arg, ast.BinOp)
                    and isinstance(arg.op, ast.Div)
                    and "1000000.0" in ast.unparse(arg.left)
                    and ast.unparse(arg.right).count("sqrt(") == 2
                ):
                    sites["cos_mppm"].add(where)
                if isinstance(n, ast.Constant) and isinstance(n.value, str):
                    # the cell-ranking d² fold, and quantize spelled in SQL
                    if "(x - y) * (x - y)" in n.value:
                        sites["cell_d2"].add(where)
                    if "AS DOUBLE) *" in n.value.upper():
                        sites["quantize"].add(where)
                if path.stem == "similarity" and is_call(n, "row_number"):
                    sites["row_number"].add(where)
    return sites


def test_exact_ann_stages_built_once():
    """Quantize, cos_mppm scoring and the cell-ranking d² SQL are each
    built in exactly one function under operators/, and every
    row_number in similarity.py is the one top-K helper's (the argmin
    sites and the float tier go through it too, so none is kept)."""
    assert _stage_sites() == {
        "quantize": {"similarity:_quantize_value"},
        "cos_mppm": {"similarity:_cos_mppm"},
        "cell_d2": {"similarity:_cells_sorted_expr"},
        "row_number": {"similarity:_topk"},
    }
