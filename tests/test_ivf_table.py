"""Broadcast-centroid-table IVF assignment (text/similarity.py::
ivf_assign / ivf_assign_arrow): ivf_assign ≡ arrow ≡ Python replay on
integer-quantized vectors, the constant-plan-size claim (no k ceiling,
VERDICT r10 item 1), the table path at every k, the DataFrame-centroids
input path, and tie-breaking to the lower centroid id on every path."""

from __future__ import annotations

import contextlib
import io
import random

from pyspark.sql import functions as F

from pharmacodi_spark.text.similarity import ivf_assign, ivf_assign_arrow


def _vectors(spark, n, dim, seed, lo=-1000, hi=1000):
    rng = random.Random(seed)
    rows = [
        (i, [float(rng.randint(lo, hi)) for _ in range(dim)])
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return rows, df


def _py_assign(rows, cents):
    out = {}
    for vid, v in rows:
        best = min(
            (sum((x - y) ** 2 for x, y in zip(v, c)), i)
            for i, c in enumerate(cents)
        )
        out[vid] = best[1]
    return out


def _cids(out):
    return {r["vec_id"]: r["cid"] for r in out.collect()}


def test_literal_table_arrow_agree_k16(spark):
    rows, df = _vectors(spark, n=240, dim=16, seed=3)
    cents = [v for _, v in rows[:16]]
    tab = _cids(ivf_assign(df, cents, out_col="cid"))
    arw = _cids(ivf_assign_arrow(df, cents, out_col="cid"))
    assert tab == arw == _py_assign(rows, cents)


def test_table_arrow_agree_k2048(spark):
    # production-shaped k: ivf_assign and arrow agree with each other
    # and with the python replay
    rows, df = _vectors(spark, n=300, dim=8, seed=11)
    rng = random.Random(12)
    cents = [
        [float(rng.randint(-1000, 1000)) for _ in range(8)]
        for _ in range(2048)
    ]
    expect = _py_assign(rows, cents)
    assert _cids(ivf_assign(df, cents, out_col="cid")) == expect
    assert _cids(ivf_assign_arrow(df, cents, out_col="cid")) == expect


def test_table_plan_size_constant_in_k(spark):
    # the whole point: the plan carries the centroids as DATA, so its
    # expression tree does not grow with k
    rows, df = _vectors(spark, n=20, dim=8, seed=5)
    rng = random.Random(6)

    def plan_len(k):
        cents = [
            [float(rng.randint(-9, 9)) for _ in range(8)] for _ in range(k)
        ]
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            ivf_assign(df, cents, out_col="cid").explain(True)
        return len(buf.getvalue())

    small, big = plan_len(16), plan_len(1024)
    assert big < small * 1.5, (small, big)


def test_ivf_assign_dispatches_above_literal_max(spark):
    # one path at every k: small and large centroid sets both ride the
    # broadcast 1-row centroid table
    rows, df = _vectors(spark, n=40, dim=4, seed=7)
    rng = random.Random(8)
    for k in (4, 136):
        cents = [
            [float(rng.randint(-50, 50)) for _ in range(4)] for _ in range(k)
        ]
        out = ivf_assign(df, cents, out_col="cid")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            out.explain("formatted")
        plan = buf.getvalue()
        assert "BroadcastNestedLoopJoin" in plan, k
        assert _cids(out) == _py_assign(rows, cents), k


def test_table_accepts_centroid_dataframe(spark):
    # centroids maintained as a k-row TABLE by an index-build job — never
    # collected to the driver
    rows, df = _vectors(spark, n=60, dim=6, seed=21)
    cents = [v for _, v in rows[:12]]
    cdf = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cid int, cvec array<double>"
    )
    assert _cids(ivf_assign(df, cdf, out_col="cid")) == _py_assign(rows, cents)


def test_all_paths_tie_break_to_lower_cid(spark):
    df = spark.createDataFrame(
        [(0, [5.0, 5.0]), (1, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    cents = [[5.0, 5.0], [5.0, 5.0], [0.0, 0.0]]  # 0 and 1 identical
    cdf = spark.createDataFrame(
        list(enumerate(cents)), "cid int, cvec array<double>"
    )
    for name, out in (
        ("list", ivf_assign(df, cents, out_col="cid")),
        ("frame", ivf_assign(df, cdf, out_col="cid")),
        ("arrow", ivf_assign_arrow(df, cents, out_col="cid")),
    ):
        assert _cids(out) == {0: 0, 1: 2}, name


def test_seeded_assign_paths_agree_and_guard_gaps(spark):
    # the E2E blocking helper feeds the seed FRAME to ivf_assign (nothing
    # collected): it must emit the same (vec_id, cid) as the driver-list
    # call over the same seeds — cid = seed id — and a gapped id space
    # must raise rather than silently renumber
    from pharmacodi_spark.text.similarity import seeded_cell_assign

    rows, df = _vectors(spark, n=200, dim=8, seed=17)
    seeds = [v for _, v in rows[:24]]
    seeded = _cids(seeded_cell_assign(df, 24, out_col="cid"))
    assert seeded == _cids(ivf_assign(df, seeds, out_col="cid"))
    assert seeded == _py_assign(rows, seeds)

    import pytest

    gapped = df.where(F.col("vec_id") != 3)
    with pytest.raises(ValueError, match="contiguous"):
        seeded_cell_assign(gapped, 24, out_col="cid")


def test_table_preserves_columns_and_kmeans_seeds_feed_it(spark):
    # train_ivf_centroids (k-means||) output is the documented feeder
    rows, df = _vectors(spark, n=80, dim=4, seed=31, lo=-20, hi=20)
    df = df.withColumn("extra", F.col("vec_id") * 2)
    from pharmacodi_spark.text.similarity import train_ivf_centroids

    cents = train_ivf_centroids(df, n_centroids=4, max_iter=3)
    out = ivf_assign(df, cents, out_col="cid")
    assert set(out.columns) == {"vec_id", "embedding", "extra", "cid"}
    cids = {r["cid"] for r in out.select("cid").distinct().collect()}
    assert cids <= set(range(4)) and len(cids) >= 2


def test_guards_raise_loudly_on_both_dispatch_sides(spark):
    # ADVICE r11 closures: (a) seeded_cell_assign raises the
    # seed-contiguity ValueError instead of silently proceeding with
    # fewer cells — here on a small seed set whose LAST id is missing;
    # (b) ivf_assign rejects empty centroid inputs (array_min over an
    # empty array would be a silent NULL cid that a downstream join-back
    # would silently drop).
    import pytest

    from pharmacodi_spark.text.similarity import seeded_cell_assign

    _, df = _vectors(spark, n=60, dim=4, seed=41)
    gapped = df.where(F.col("vec_id") != 3)
    with pytest.raises(ValueError, match="contiguous"):
        seeded_cell_assign(gapped, 4, out_col="cid")

    with pytest.raises(ValueError, match="empty"):
        ivf_assign(df, [])
    empty_cdf = spark.createDataFrame([], "cid int, cvec array<double>")
    with pytest.raises(ValueError, match="empty"):
        ivf_assign(df, empty_cdf)
