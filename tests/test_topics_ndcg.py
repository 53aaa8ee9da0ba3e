"""Round-10 late batch: kmeans_lloyd_int (text/similarity.py) and
retrieval_ndcg (text/retrieval.py) against pure-Python replays — the
same replay-referee strategy as test_kneser_ney / test_knn_eval."""

from __future__ import annotations

import random

import pytest

from pharmacodi_spark.text.retrieval import (
    ilog2_fp_py,
    ndcg_discounts,
    retrieval_ndcg,
)
from pharmacodi_spark.text.similarity import _trunc_div, kmeans_lloyd_int


# ---------------------------------------------------------------------------
# kmeans_lloyd_int
# ---------------------------------------------------------------------------


def _py_kmeans(rows, k, iterations):
    """Pure-Python Lloyd replay with the exact contract: seeds = k
    lowest-id vectors, argmin ties -> lower centroid index, update =
    per-dim truncating division, empty clusters keep their centroid."""
    rows = sorted(rows)
    cents = [list(v) for _, v in rows[:k]]

    def assign(cs):
        out = {}
        for vid, v in rows:
            best = min(
                (sum((x - y) ** 2 for x, y in zip(v, c)), i)
                for i, c in enumerate(cs)
            )
            out[vid] = best
        return out

    for _ in range(iterations):
        a = assign(cents)
        sums: dict[int, list[int]] = {}
        counts: dict[int, int] = {}
        for vid, v in rows:
            cid = a[vid][1]
            s = sums.setdefault(cid, [0] * len(v))
            for p, x in enumerate(v):
                s[p] += x
            counts[cid] = counts.get(cid, 0) + 1
        cents = [
            [_trunc_div(s, counts[i]) for s in sums[i]]
            if i in counts
            else cents[i]
            for i in range(k)
        ]
    return assign(cents), cents


def _int_vectors(seed, n=60, dim=6, lo=-50, hi=50):
    rng = random.Random(seed)
    return [
        (vid, [rng.randint(lo, hi) for _ in range(dim)]) for vid in range(n)
    ]


def test_kmeans_matches_python_replay(spark):
    rows = _int_vectors(seed=11)
    df = spark.createDataFrame(
        [(v, e) for v, e in rows], "vec_id long, qe array<long>"
    )
    assigned, cents = kmeans_lloyd_int(df, k=4, iterations=3)
    py_assign, py_cents = _py_kmeans(rows, k=4, iterations=3)
    assert cents == py_cents
    got = {r["vec_id"]: (r["cid"], r["d2"]) for r in assigned.collect()}
    for vid, (d2, cid) in py_assign.items():
        assert got[vid] == (cid, d2), vid


def test_kmeans_negative_sums_use_trunc_division(spark):
    # all-negative coordinates: Python // would floor (e.g. -7//2 = -4)
    # while Spark div / DuckDB // truncate to -3 — the replay and the
    # engine must agree on the TRUNCATING semantics
    rows = [(0, [-7, -7]), (1, [-8, -6]), (2, [-100, -99]), (3, [-99, -101])]
    df = spark.createDataFrame(rows, "vec_id long, qe array<long>")
    assigned, cents = kmeans_lloyd_int(df, k=2, iterations=2)
    py_assign, py_cents = _py_kmeans(rows, k=2, iterations=2)
    assert cents == py_cents
    for c in cents:
        for x in c:
            assert x <= 0
    got = {r["vec_id"]: r["cid"] for r in assigned.collect()}
    assert got == {vid: cid for vid, (_, cid) in py_assign.items()}


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    # seed 2 starts between the two real clusters and loses every member
    # after the first update pulls seeds 0/1 onto the cluster means: its
    # centroid must survive unchanged (NOT become zeros / NaN) and the
    # replay must agree
    rows = [(0, [0, 0]), (1, [1000, 1000]), (2, [1, 0]), (3, [0, 1]),
            (4, [2, 2]), (5, [999, 1001])]
    df = spark.createDataFrame(rows, "vec_id long, qe array<long>")
    _assigned, cents = kmeans_lloyd_int(df, k=3, iterations=2)
    py_assign, py_cents = _py_kmeans(rows, k=3, iterations=2)
    assert cents == py_cents


def test_kmeans_large_k_uses_constant_plan_paths(spark):
    # a large k stays on the constant-size plan: assignment rides the
    # broadcast centroid table and the final d2 picks the winner out of
    # ONE folded matrix literal — replay-exact
    k = 132
    rows = _int_vectors(seed=23, n=k + 60, dim=3, lo=-30, hi=30)
    df = spark.createDataFrame(rows, "vec_id long, qe array<long>")
    assigned, cents = kmeans_lloyd_int(df, k=k, iterations=1)
    py_assign, py_cents = _py_kmeans(rows, k=k, iterations=1)
    assert cents == py_cents
    got = {r["vec_id"]: (r["cid"], r["d2"]) for r in assigned.collect()}
    for vid, (d2, cid) in py_assign.items():
        assert got[vid] == (cid, d2), vid


def test_kmeans_gapped_ids_fail_loudly(spark):
    # The default lowest-id seeding is paired with oracle SQL that assumes
    # ids contiguous from 0 (cid = seed vec_id). A gapped or offset id
    # space must raise, not silently diverge from that oracle; the
    # init_centroids= seam is the sanctioned escape hatch.
    rows = [(3, [0, 0]), (7, [10, 10]), (9, [0, 1]), (12, [11, 10])]
    df = spark.createDataFrame(rows, "vec_id long, qe array<long>")
    with pytest.raises(ValueError, match="contiguous"):
        kmeans_lloyd_int(df, k=2, iterations=1)
    # the escape hatch works on the same gapped frame
    _assigned, cents = kmeans_lloyd_int(
        df, k=2, iterations=1, init_centroids=[[0, 0], [10, 10]]
    )
    assert len(cents) == 2


def test_trunc_div_semantics():
    assert _trunc_div(-7, 2) == -3
    assert _trunc_div(7, 2) == 3
    assert _trunc_div(-6, 2) == -3
    assert _trunc_div(0, 5) == 0


# ---------------------------------------------------------------------------
# retrieval_ndcg
# ---------------------------------------------------------------------------


def test_ndcg_discount_table_exact_values():
    disc = ndcg_discounts(3)
    fp = 1 << 10
    # rank 1: 1/log2(2) = 1.0 exactly in fixed point
    assert disc[0] == fp
    # rank 2: log2(3) interpolates to (1<<10) + (1<<9) = 1536;
    # disc = fp^2 // 1536 = 682
    assert ilog2_fp_py(3) == 1536
    assert disc[1] == (fp * fp) // 1536
    # monotone decreasing
    assert disc[0] > disc[1] > disc[2]


def _py_ndcg(rows, k, query_mod, scale=10000):
    disc = ndcg_discounts(k)
    psum = [0]
    for d in disc:
        psum.append(psum[-1] + d)
    import math

    # floor(x*scale + 0.5) — the engines' shared quantization
    q = {
        vid: [int(math.floor(x * scale + 0.5)) for x in v]
        for vid, v, _ in rows
    }
    lab = {vid: l for vid, _, l in rows}
    out = {}
    for qid in [vid for vid, _, _ in rows if vid % query_mod == 0]:
        cands = []
        for vid, _, _ in rows:
            if vid == qid:
                continue
            dot = sum(a * b for a, b in zip(q[vid], q[qid]))
            cands.append((-dot, vid))
        cands.sort()
        rel = [1 if lab[vid] == lab[qid] else 0 for _, vid in cands]
        topk = rel[:k]
        dcg = sum(r * d for r, d in zip(topk, disc))
        n_pool = sum(rel)
        n_topk = sum(topk)
        first = next((i + 1 for i, r in enumerate(topk) if r), None)
        ndcg = (dcg * 1000000) // psum[min(n_pool, k)] if n_pool else 0
        mrr = 1000 // first if first else 0
        out[qid] = (lab[qid], n_topk, n_pool, dcg, ndcg, mrr)
    return out


def test_retrieval_ndcg_matches_python_replay(spark):
    rng = random.Random(3)
    rows = [
        (vid, [rng.uniform(-1, 1) for _ in range(5)], rng.randint(0, 2))
        for vid in range(40)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    got = {
        r["vec_id"]: (
            r["label"],
            r["n_rel_topk"],
            r["n_rel_pool"],
            r["dcg_fp"],
            r["ndcg_ppm"],
            r["mrr_milli"],
        )
        for r in retrieval_ndcg(df, k=5, query_mod=7).collect()
    }
    assert got == _py_ndcg(rows, k=5, query_mod=7)


def test_ndcg_perfect_ranking_scores_million(spark):
    # probe 0's label-mates are its nearest neighbors by construction ->
    # nDCG = 1.0 exactly (dcg == idcg prefix), MRR = 1000
    rows = [
        (0, [10.0, 0.0], 1),
        (1, [9.9, 0.1], 1),
        (2, [9.8, 0.0], 1),
        (3, [-10.0, 5.0], 0),
        (4, [-9.0, 4.0], 0),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = {r["vec_id"]: r for r in retrieval_ndcg(df, k=2, query_mod=999).collect()}
    r0 = out[0]
    assert r0["ndcg_ppm"] == 1_000_000
    assert r0["mrr_milli"] == 1000
    assert r0["n_rel_topk"] == 2


def test_ndcg_no_relevant_in_pool_scores_zero(spark):
    rows = [
        (0, [1.0, 0.0], 7),
        (1, [0.9, 0.1], 1),
        (2, [0.8, 0.0], 2),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = {r["vec_id"]: r for r in retrieval_ndcg(df, k=2, query_mod=999).collect()}
    assert out[0]["ndcg_ppm"] == 0
    assert out[0]["mrr_milli"] == 0
    assert out[0]["n_rel_pool"] == 0


# ---------------------------------------------------------------------------
# top_component_projection (all-but-the-top)
# ---------------------------------------------------------------------------


def _py_top_component(rows, iterations=2, scale_bits=10, shift_bits=16):
    rows = sorted(rows)
    n = len(rows)
    dim = len(rows[0][1])
    scale, shift = 1 << scale_bits, 1 << shift_bits
    mu = [
        _trunc_div(sum(v[p] for _, v in rows), n) for p in range(dim)
    ]
    cent = {vid: [x - m for x, m in zip(v, mu)] for vid, v in rows}
    v = list(cent[rows[0][0]])
    assert any(v)
    for _ in range(iterations):
        d = {vid: sum(c * vv for c, vv in zip(cent[vid], v)) for vid, _ in rows}
        dd = {vid: _trunc_div(d[vid], shift) for vid in d}
        w = [
            sum(cent[vid][p] * dd[vid] for vid, _ in rows)
            for p in range(dim)
        ]
        m = max(abs(x) for x in w)
        v = [_trunc_div(x * scale, m) for x in w]
    return {
        vid: _trunc_div(
            sum(c * vv for c, vv in zip(cent[vid], v)), scale
        )
        for vid, _ in rows
    }, v, mu


def test_top_component_matches_python_replay(spark):
    from pharmacodi_spark.text.similarity import top_component_projection

    rng = random.Random(21)
    rows = [
        (vid, [rng.randint(-9000, 9000) for _ in range(8)])
        for vid in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id long, qe array<long>")
    proj, v, mu = top_component_projection(df, iterations=2)
    py_proj, py_v, py_mu = _py_top_component(rows, iterations=2)
    assert v == py_v
    assert mu == py_mu
    got = {r["vec_id"]: r["proj_q"] for r in proj.collect()}
    assert got == py_proj


def test_top_component_finds_dominant_direction(spark):
    from pharmacodi_spark.text.similarity import top_component_projection

    # corpus = big spread along axis 0, small noise on axis 1: the
    # recovered component must be axis-0-dominant and the projection
    # magnitudes must order by the axis-0 coordinate
    rng = random.Random(4)
    rows = [
        (vid, [(vid - 20) * 1000 + rng.randint(-5, 5), rng.randint(-50, 50)])
        for vid in range(41)
    ]
    df = spark.createDataFrame(rows, "vec_id long, qe array<long>")
    proj, v, _mu = top_component_projection(df, iterations=3)
    assert abs(v[0]) > 10 * abs(v[1])
    got = {r["vec_id"]: r["proj_q"] for r in proj.collect()}
    # projections ordered by centered axis-0 coordinate (up to sign)
    ordered = sorted(got, key=lambda vid: got[vid])
    if got[ordered[0]] != min(got.values()):
        ordered = list(reversed(ordered))
    axis0 = sorted(range(41), key=lambda vid: rows[vid][1][0])
    assert ordered == axis0 or ordered == list(reversed(axis0))


def test_top_component_zero_start_raises(spark):
    from pharmacodi_spark.text.similarity import top_component_projection

    rows = [(0, [5, 5]), (1, [5, 5]), (2, [5, 5])]
    df = spark.createDataFrame(rows, "vec_id long, qe array<long>")
    with pytest.raises(ValueError, match="zero"):
        top_component_projection(df, iterations=1)


def test_abtt_correction_orthogonalizes(spark):
    """The corrected vectors must have ~zero projection onto the removed
    component: |c'·v| ≤ dim·|v|_inf/2 (per-component floor quantization
    error bound), vs the UNcorrected projections which are large by
    construction on an anisotropic corpus."""
    from pharmacodi_spark.text.similarity import top_component_projection
    from pyspark.sql import functions as F

    rng = random.Random(7)
    # anisotropic corpus: dominant direction = (3, 1, -2), big coefficients
    base = [3, 1, -2, 0]
    rows = []
    for vid in range(60):
        coef = (vid - 30) * 500
        rows.append(
            (
                vid,
                [
                    coef * b + rng.randint(-40, 40)
                    for b in base
                ],
            )
        )
    df = spark.createDataFrame(rows, "vec_id long, qe array<long>")
    _proj, v, mu = top_component_projection(df, iterations=3)
    vv2 = sum(x * x for x in v)
    mu_arr = F.array(*[F.lit(int(m)).cast("long") for m in mu])
    v_arr = F.array(*[F.lit(int(x)).cast("long") for x in v])
    cent = df.select(
        "vec_id",
        F.zip_with(
            F.transform("qe", lambda x: x.cast("long")),
            mu_arr,
            lambda x, m: x - m,
        ).alias("c"),
    )
    dot_v = F.aggregate(
        F.zip_with("c", v_arr, lambda c, vv: c * vv),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    corrected = cent.withColumn("__dv", dot_v).select(
        "vec_id",
        "__dv",
        F.zip_with(
            "c",
            v_arr,
            lambda c, vv: (
                (
                    (c * F.lit(vv2) - F.col("__dv") * vv)
                    - (c * F.lit(vv2) - F.col("__dv") * vv) % F.lit(vv2)
                )
                / F.lit(vv2)
            ).cast("long"),
        ).alias("cc"),
    )
    resid = corrected.select(
        "vec_id",
        "__dv",
        F.aggregate(
            F.zip_with("cc", v_arr, lambda c, vv: c * vv),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        ).alias("cv"),
    ).collect()
    dim = len(base)
    bound = dim * max(abs(x) for x in v)  # one unit of floor error per dim
    big = 0
    for r in resid:
        assert abs(r["cv"]) <= bound, (r["vec_id"], r["cv"], bound)
        if abs(r["__dv"]) > bound * 10:
            big += 1
    # the corpus really was anisotropic: most uncorrected projections dwarf
    # the post-correction residual bound
    assert big > 40


def test_embedding_drift_detects_rotation(spark):
    """Semantic contract of the drift audit: two snapshots sharing a
    dominant direction score cos² near 1e6; snapshots whose dominant
    directions are orthogonal score near 0 — with mean shift tracking
    the planted offset. (The oracle-gated query proves determinism;
    this proves the audit MEASURES what it claims.)"""
    from pharmacodi_spark.text.similarity import (
        _trunc_div,
        top_component_projection,
    )

    rng = random.Random(13)

    def corpus(axis, offset, start_id):
        rows = []
        for i in range(40):
            coef = (i - 20) * 800
            vec = [offset[p] + coef * axis[p] + rng.randint(-3, 3)
                   for p in range(4)]
            rows.append((start_id + i, vec))
        return rows

    def drift(rows_a, rows_b):
        df_a = spark.createDataFrame(rows_a, "vec_id long, qe array<long>")
        df_b = spark.createDataFrame(rows_b, "vec_id long, qe array<long>")
        _pa, va, mua = top_component_projection(df_a, iterations=3)
        _pb, vb, mub = top_component_projection(df_b, iterations=3)
        dd = sum(a * b for a, b in zip(va, vb))
        no2 = sum(x * x for x in va)
        nn2 = sum(x * x for x in vb)
        dq = _trunc_div(dd, 1024)
        denom = _trunc_div(no2, 1024) * _trunc_div(nn2, 1024)
        cos2 = (-1 if dd < 0 else 1) * ((dq * dq * 1000000) // denom)
        shift2 = sum((a - b) ** 2 for a, b in zip(mua, mub))
        return cos2, shift2

    same_axis = corpus([3, 1, 0, 0], [0, 0, 0, 0], 0), corpus(
        [3, 1, 0, 0], [500, 0, 0, 0], 100
    )
    rotated = corpus([3, 1, 0, 0], [0, 0, 0, 0], 0), corpus(
        [0, 0, 2, -3], [0, 0, 0, 0], 100
    )
    cos2_same, shift2_same = drift(*same_axis)
    cos2_rot, _ = drift(*rotated)
    assert abs(cos2_same) > 900_000, cos2_same
    assert abs(cos2_rot) < 100_000, cos2_rot
    # planted mean offset of 500 on dim 0 dominates the noise
    assert shift2_same > 200_000, shift2_same


def test_kmeans_kmeanspp_seeding_beats_pathological_lowest_id(spark):
    """init_centroids seam: with the k lowest ids all planted inside ONE
    tight cluster (the adversarial case for lowest-id seeding), k-means||
    seeds (train_ivf_centroids) reach a strictly lower inertia after the
    same 2 Lloyd iterations; the lowest-id default stays the
    SQL-reproducible oracle path."""
    from pyspark.sql import functions as F

    from pharmacodi_spark.text.similarity import (
        kmeans_lloyd_int,
        train_ivf_centroids,
    )

    rng = random.Random(31)
    rows = []
    vid = 0
    # ids 0..3 (the k=4 lowest) all in cluster A; three other far clusters
    centers = [(0, 0), (4000, 0), (0, 4000), (4000, 4000)]
    for _ in range(4):
        rows.append((vid, [rng.randint(-30, 30), rng.randint(-30, 30)]))
        vid += 1
    for cx, cy in centers:
        for _ in range(20):
            rows.append(
                (vid, [cx + rng.randint(-30, 30), cy + rng.randint(-30, 30)])
            )
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, qe array<long>")

    def inertia(assigned):
        return assigned.agg(F.sum("d2")).collect()[0][0]

    base, _ = kmeans_lloyd_int(df, k=4, iterations=2)
    pp_seeds = train_ivf_centroids(df, n_centroids=4, vec_col="qe", seed=3)
    pp_init = [[int(x) for x in c] for c in pp_seeds]
    better, _ = kmeans_lloyd_int(
        df, k=4, iterations=2, init_centroids=pp_init
    )
    i_base, i_pp = inertia(base), inertia(better)
    assert i_pp < i_base, (i_pp, i_base)
    # k-means|| spreads seeds across the four true clusters: inertia should
    # collapse to near the within-cluster noise floor, far below the
    # one-cluster-seeded run
    assert i_pp * 5 < i_base, (i_pp, i_base)
