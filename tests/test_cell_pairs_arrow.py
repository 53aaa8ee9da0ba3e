"""Arrow GEMM pair-scoring path (r12): cell_cosine_pairs_arrow must emit
the EXACT pair set of the flattened codegen join path — including under
the triangle-block hot-cell guard, where off-diagonal blocks score only
cross-subgroup pairs (the diagonal rule) — and cell_cosine_pairs must
route dim > CELL_PAIRS_FLATTEN_MAX_DIM to it and keep narrow vectors on
the JVM path."""

import numpy as np
import pytest

from pharmacodi_spark.text.similarity import (
    CELL_PAIRS_FLATTEN_MAX_DIM,
    cell_cosine_pairs,
    cell_cosine_pairs_arrow,
)


def _fixture(spark, dim=16, n=60, cells=2, seed=3):
    """Integer-valued vectors with real near-dup structure and a skewed
    cell layout (cell 0 gets 3/4 of the rows → multiple triangle
    subgroups at small max_cell_size)."""
    rng = np.random.default_rng(seed)
    protos = rng.integers(-9, 9, size=(4, dim))
    vecs = [
        (protos[i % 4] + rng.integers(-1, 2, size=dim)).tolist()
        for i in range(n)
    ]
    cell = [0 if i % 4 else 1 for i in range(n)]  # skew: 75% in cell 0
    df = spark.createDataFrame(
        [(i, cell[i], [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, cell int, embedding array<double>",
    )
    a = np.array(vecs, dtype=np.float64)
    norm = np.sqrt((a * a).sum(axis=1))
    cos = (a @ a.T) / np.outer(norm, norm)
    want = {
        (i, j)
        for i in range(n)
        for j in range(i + 1, n)
        if cell[i] == cell[j] and cos[i, j] >= 0.8
    }
    return df, want


def _pairs(df, **kw):
    return {
        (r.doc_a, r.doc_b)
        for r in cell_cosine_pairs_arrow(
            df,
            vec_col="embedding",
            id_col="vec_id",
            cell_col="cell",
            threshold=0.8,
            **kw,
        ).collect()
    }


def test_arrow_matches_codegen_and_brute_force(spark):
    df, want = _fixture(spark)
    assert want  # non-degenerate fixture
    codegen = {
        (r.doc_a, r.doc_b)
        for r in cell_cosine_pairs(
            df,
            vec_col="embedding",
            id_col="vec_id",
            cell_col="cell",
            threshold=0.8,
        ).collect()
    }
    assert codegen == want
    assert _pairs(df) == want


def test_arrow_triangle_guard_exact_and_slabbed(spark):
    """max_cell_size far below the hot cell size forces s ≥ 3 subgroups
    → off-diagonal cross-blocks exercise the diagonal rule; slab_rows
    below the block size forces multi-slab GEMMs. Pair set unchanged."""
    df, want = _fixture(spark)
    assert _pairs(df, max_cell_size=8) == want
    assert _pairs(df, max_cell_size=8, slab_rows=3) == want
    assert _pairs(df, slab_rows=7) == want


def test_auto_dispatch_by_width(spark):
    """dim > CELL_PAIRS_FLATTEN_MAX_DIM routes to the Arrow path
    (FlatMapGroupsInPandas in the physical plan); vectors up to the
    ceiling stay on the flattened JVM join path (no Python node)."""
    assert CELL_PAIRS_FLATTEN_MAX_DIM == 128

    def plan(dim):
        df, _ = _fixture(spark, dim=dim, n=12)
        out = cell_cosine_pairs(
            df, vec_col="embedding", id_col="vec_id", cell_col="cell"
        )
        return out._jdf.queryExecution().executedPlan().toString()

    assert "FlatMapGroupsInPandas" not in plan(8)
    assert "FlatMapGroupsInPandas" not in plan(CELL_PAIRS_FLATTEN_MAX_DIM)
    assert "FlatMapGroupsInPandas" in plan(CELL_PAIRS_FLATTEN_MAX_DIM + 1)


def test_arrow_empty_result_schema(spark):
    df, _ = _fixture(spark, n=8)
    out = cell_cosine_pairs_arrow(
        df, vec_col="embedding", id_col="vec_id", cell_col="cell",
        threshold=1.1,  # cosine ≤ 1 → nothing passes
    )
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["doc_a", "doc_b"]
    assert out.schema["doc_a"].dataType.simpleString() == "bigint"


def test_zero_norm_vectors_excluded_identically(spark):
    """Cosine is undefined for zero vectors: both paths must EXCLUDE
    them explicitly (r12) — under Spark 4's default ANSI session the
    unguarded pair expression would raise DIVIDE_BY_ZERO on the codegen
    path while numpy silently NaN-drops; the shared n2 > 0 rule makes
    the paths equivalent and ANSI-safe."""
    df, want = _fixture(spark, n=24)
    dim = 16
    zeros = spark.createDataFrame(
        [(1000, 0, [0.0] * dim), (1001, 1, [0.0] * dim)],
        "vec_id long, cell int, embedding array<double>",
    )
    noisy = df.unionByName(zeros)
    for fn in (cell_cosine_pairs, cell_cosine_pairs_arrow):
        for kw in ({}, {"max_cell_size": 8}):
            got = {
                (r.doc_a, r.doc_b)
                for r in fn(
                    noisy, vec_col="embedding", id_col="vec_id",
                    cell_col="cell", threshold=0.8, **kw,
                ).collect()
            }
            assert got == want, (fn.__name__, kw)


def test_method_validation(spark):
    # the path is picked by width alone: there is no method= to pass
    df, _ = _fixture(spark, n=4)
    with pytest.raises(TypeError, match="method"):
        cell_cosine_pairs(
            df, vec_col="embedding", id_col="vec_id", cell_col="cell",
            method="arrow",
        )


@pytest.mark.slow
def test_semantic_dedup_e2e_path_invariant_at_wide_dim(spark):
    """The full semantic-dedup cascade (seeded blocking → pair scoring →
    connected components → droplist) at dim 300 — where scoring routes
    to the Arrow path — must produce the IDENTICAL droplist as one built
    from the NumPy brute-force within-cell pair set: the path choice is
    physical, invisible end-to-end."""
    from pharmacodi_spark.text.clusters import near_dup_droplist
    from pharmacodi_spark.text.similarity import seeded_cell_assign

    rng = np.random.default_rng(11)
    dim, n, thr = 300, 200, 0.40
    protos = rng.integers(-15, 15, size=(8, dim))
    vecs = [
        (protos[i % 8] + rng.integers(-1, 2, size=dim)).tolist()
        for i in range(n)
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, qe array<double>",
    )
    assigned = seeded_cell_assign(df, 4, vec_col="qe", out_col="cid")
    cid = {r.vec_id: r.cid for r in assigned.select("vec_id", "cid").collect()}
    a = np.array(vecs, dtype=np.float64)
    norm = np.sqrt((a * a).sum(axis=1))
    cos = (a @ a.T) / np.outer(norm, norm)
    brute = [
        (i, j)
        for i in range(n)
        for j in range(i + 1, n)
        if cid[i] == cid[j] and cos[i, j] >= thr
    ]

    def droplist(pairs):
        return {
            (r.vec_id, r.component, r.keep)
            for r in near_dup_droplist(
                df.select("vec_id"), pairs, id_col="vec_id"
            ).collect()
        }

    arrow = droplist(
        cell_cosine_pairs(
            assigned,
            vec_col="qe",
            id_col="vec_id",
            cell_col="cid",
            threshold=thr,
            max_cell_size=64,
        )
    )
    expect = droplist(
        spark.createDataFrame(brute, "doc_a long, doc_b long")
    )
    assert arrow == expect
    assert any(not keep for _, _, keep in arrow)  # real dups were dropped
