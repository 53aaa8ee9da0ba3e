"""Unit tests for the temporal operators (as-of / range join) and the
fact-scale dense surrogate key path — the parameterized library twins of the
oracle-checked plans in plans/tabular_q.py."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pharmacodi_spark.operators.keys import surrogate_key
from pharmacodi_spark.operators.temporal import asof_join, bucketed_range_join


def test_asof_join_basic(spark):
    trades = spark.createDataFrame(
        [("A", 10, "t1"), ("A", 20, "t2"), ("B", 15, "t3"), ("A", 5, "t0")],
        ["sym", "ts", "trade_id"],
    )
    quotes = spark.createDataFrame(
        [("A", 8, 100.0), ("A", 10, 101.0), ("A", 19, 102.0), ("B", 99, 9.0)],
        ["sym", "ts", "px"],
    )
    out = asof_join(trades, quotes, on=["sym"], order_col="ts", right_cols=["px"])
    got = {r["trade_id"]: r["asof_px"] for r in out.collect()}
    # t0 @5: no quote yet; t1 @10: simultaneous quote wins (101); t2 @20: 102
    # t3 @15 on B: B's only quote is later (99) -> null
    assert got == {"t0": None, "t1": 101.0, "t2": 102.0, "t3": None}


def test_asof_join_keeps_left_payload(spark):
    left = spark.createDataFrame([(1, 10, "x")], ["k", "ts", "payload"])
    right = spark.createDataFrame([(1, 9, 5.0)], ["k", "ts", "v"])
    out = asof_join(left, right, on=["k"], order_col="ts", right_cols=["v"])
    row = out.collect()[0]
    assert row["payload"] == "x" and row["asof_v"] == 5.0


def test_bucketed_range_join_matches_theta(spark):
    vals = spark.range(0, 500).select((F.col("id") * 1.0).alias("v"))
    tiers = spark.createDataFrame(
        [("lo", 0.0, 120.0), ("mid", 120.0, 130.0), ("hi", 130.0, 500.0)],
        ["tier", "lo", "hi"],
    )
    out = bucketed_range_join(vals, tiers, "v", bucket_width=50.0)
    counts = {r["tier"]: r["n"] for r in out.groupBy("tier").agg(F.count("*").alias("n")).collect()}
    assert counts == {"lo": 120, "mid": 10, "hi": 370}
    # theta-join referee
    ref = vals.join(tiers, (vals.v >= tiers.lo) & (vals.v < tiers.hi))
    assert out.count() == ref.count()


@pytest.mark.slow
def test_pagerank_int(spark):
    from pharmacodi_spark.operators.graph import pagerank_int

    # uniform cycle: rank mass is a fixpoint at scale // N from step 0
    cycle = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], ["src", "dst"])
    r = {x.v: x.r for x in pagerank_int(cycle, iterations=5).collect()}
    assert r == {1: 333333333, 2: 333333333, 3: 333333333}

    # star with a back-edge: mass circulates in the 0↔1 pair (which
    # therefore dominates the in-degree-1 leaves); symmetric leaves 2,3
    # tie EXACTLY — integer arithmetic, no float noise
    star = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (0, 1)], ["src", "dst"]
    )
    d = {x.v: x.r for x in pagerank_int(star, iterations=10).collect()}
    assert d[2] == d[3]
    assert min(d[0], d[1]) > d[2]
    assert sum(d.values()) <= 10**9  # mass only leaks, never appears


@pytest.mark.slow
def test_pagerank_dangling_redistribution(spark):
    from pharmacodi_spark.operators.graph import pagerank_int

    # chain a→b with b a pure sink. Hand-computed first step (scale 1e9,
    # N=2, base = 15e9//200 = 75_000_000, D₀ = r₀(b) = 5e8):
    #   r₁(a) = base + 85·(0 + D₀ div 2) div 100          = 287_500_000
    #   r₁(b) = base + 85·(r₀(a) div 1 + D₀ div 2) div 100 = 712_500_000
    chain = spark.createDataFrame([(1, 2)], ["src", "dst"])
    r1 = {x.v: x.r for x in pagerank_int(chain, 1, dangling="redistribute").collect()}
    assert r1 == {1: 287_500_000, 2: 712_500_000}
    assert sum(r1.values()) == 10**9  # mass conserved exactly here

    # multi-step: conservation within N floor-roundings per step, and the
    # sink holds MORE mass than under the leaky model
    r5 = {x.v: x.r for x in pagerank_int(chain, 5, dangling="redistribute").collect()}
    assert 10**9 - 5 * 2 <= sum(r5.values()) <= 10**9
    leak5 = {x.v: x.r for x in pagerank_int(chain, 5, dangling="ignore").collect()}
    assert sum(leak5.values()) < sum(r5.values())
    assert r5[2] > leak5[2]


@pytest.mark.slow
def test_pagerank_early_stop(spark):
    from pharmacodi_spark.operators.graph import pagerank_int

    # uniform cycle is a fixpoint from step 0 → the first tol check
    # (checkpoint boundary) must stop the loop
    cycle = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], ["src", "dst"])
    info = {}
    out = pagerank_int(cycle, iterations=20, checkpoint_every=2, tol=0, info=info)
    assert info == {"iterations_run": 2, "converged": True}
    # early-stopped ranks == the full-run fixpoint
    assert {x.v: x.r for x in out.collect()} == {
        x.v: x.r for x in pagerank_int(cycle, iterations=20).collect()
    }

    # non-trivial graph + loose tol: converges before the cap; the result
    # equals running exactly iterations_run steps without early-stop
    star = spark.createDataFrame([(1, 0), (2, 0), (3, 0), (0, 1)], ["src", "dst"])
    info2 = {}
    got = pagerank_int(
        star, iterations=40, checkpoint_every=4, tol=5_000_000, info=info2
    )
    assert info2["converged"] and info2["iterations_run"] < 40
    want = pagerank_int(star, iterations=info2["iterations_run"])
    assert {x.v: x.r for x in got.collect()} == {x.v: x.r for x in want.collect()}

    # tol=None keeps the legacy contract: runs the full count, no info
    info3 = {}
    pagerank_int(cycle, iterations=3, info=info3)
    assert info3 == {"iterations_run": 3, "converged": False}


def test_profile_table(spark):
    from pharmacodi_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (None, "a")], ["x", "s"]
    )
    p = {r.column: r for r in profile_table(df).collect()}
    assert p["x"].n_rows == 3 and p["x"].n_nulls == 1
    assert p["x"].n_distinct == 2  # nulls don't count as a distinct value
    assert (p["x"].min_str, p["x"].max_str) == ("1", "2")
    assert p["s"].n_nulls == 1 and p["s"].n_distinct == 1
    # approx path (no Expand blow-up): estimates in the right ballpark
    pa = {r.column: r for r in profile_table(df, approx=True).collect()}
    assert pa["x"].n_distinct == 2 and pa["s"].n_distinct == 1


def test_label_propagation_two_communities(spark):
    from pharmacodi_spark.operators.graph import label_propagation

    # two triangles joined by one bridge edge (3–4): LPA must split them
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        ["src", "dst"],
    )
    labels = {
        r.v: r.label for r in label_propagation(edges, iterations=5).collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3}


def test_bloom_prefilter_properties(spark):
    from pharmacodi_spark.operators.bloom import (
        bloom_prefilter_semi_join,
        build_bloom_bitmap,
    )

    fact = spark.range(0, 20_000).withColumnRenamed("id", "k")
    dim = spark.range(0, 20_000).where("id % 100 = 0").withColumnRenamed(
        "id", "dk"
    )  # 200 true keys
    # approximate mode: superset of true matches (no false negatives), and
    # the false-positive rate stays in the ballpark of the sizing math
    cand = bloom_prefilter_semi_join(
        fact, dim, "k", "dk", n_bits=1 << 12, exact=False
    )
    got = {r.k for r in cand.collect()}
    true = set(range(0, 20_000, 100))
    assert true <= got
    fp_rate = (len(got) - len(true)) / (20_000 - len(true))
    assert fp_rate < 0.10, fp_rate  # 4096 bits / 200 keys ≈ 20 b/key, k=3
    # exact mode ≡ plain semi join
    exact = bloom_prefilter_semi_join(fact, dim, "k", "dk", n_bits=1 << 12)
    assert {r.k for r in exact.collect()} == true
    # bitmap is the documented driver-resident size
    words = build_bloom_bitmap(dim, "dk", n_bits=1 << 12)
    assert len(words) == (1 << 12) // 64
    import pytest

    with pytest.raises(ValueError, match="power of two"):
        build_bloom_bitmap(dim, "dk", n_bits=1000)

    # NULL fact keys never match under semi-join semantics — the prefilter
    # must drop them even in approximate mode (xxhash64(NULL, seed) is a
    # per-seed constant that could otherwise pass every bit test)
    fact_n = fact.unionByName(
        spark.sql("SELECT CAST(NULL AS BIGINT) AS k UNION ALL "
                  "SELECT CAST(NULL AS BIGINT)")
    )
    cand_n = bloom_prefilter_semi_join(
        fact_n, dim, "k", "dk", n_bits=1 << 12, exact=False
    )
    assert cand_n.where("k IS NULL").count() == 0


def test_bloom_aggregate_pack_matches_driver_pack(spark):
    """The executor-side bit_or pack (current builder) produces the exact
    bitmap the legacy driver-side loop did — re-derived here from the same
    distinct positions as the reference implementation."""
    from pyspark.sql import functions as F2

    from pharmacodi_spark.operators.bloom import build_bloom_bitmap

    n_bits, n_hashes = 1 << 12, 3
    dim = (
        spark.range(0, 5000)
        .where("id % 7 = 0")
        .select((F2.col("id") * 31 % 4093).alias("dk"))  # collisions included
    )
    words = build_bloom_bitmap(dim, "dk", n_bits=n_bits, n_hashes=n_hashes)

    pos = dim.select(
        F2.explode(
            F2.array(
                *[
                    F2.pmod(F2.xxhash64(F2.col("dk"), F2.lit(i)), F2.lit(n_bits))
                    for i in range(n_hashes)
                ]
            )
        ).alias("p")
    ).distinct()
    ref = [0] * (n_bits // 64)
    for r in pos.collect():  # the legacy per-position driver loop
        ref[r.p >> 6] |= 1 << (r.p & 63)
    ref = [w - (1 << 64) if w >= (1 << 63) else w for w in ref]
    assert words == ref
    assert any(w < 0 for w in words) or all(w >= 0 for w in words)  # sign-safe


def test_bloom_bitmap_persistence(spark, tmp_path):
    """A saved+loaded bitmap filters identically to the freshly built one —
    the build-at-write / probe-at-read index lifecycle."""
    from pyspark.sql import functions as F2

    from pharmacodi_spark.operators.bloom import (
        bloom_condition,
        build_bloom_bitmap,
        load_bloom_bitmap,
        save_bloom_bitmap,
    )

    dim = spark.range(0, 5000).where("id % 100 = 0").withColumnRenamed(
        "id", "dk"
    )
    fact = spark.range(0, 5000).withColumnRenamed("id", "k")
    words = build_bloom_bitmap(dim, "dk", n_bits=1 << 12)
    path = str(tmp_path / "bloom_idx")
    save_bloom_bitmap(spark, words, 3, path)
    loaded, n_hashes = load_bloom_bitmap(spark, path)
    assert loaded == words and n_hashes == 3
    fresh = {r.k for r in fact.where(bloom_condition(words, F2.col("k"))).collect()}
    reloaded = {
        r.k for r in fact.where(bloom_condition(loaded, F2.col("k"), n_hashes)).collect()
    }
    assert fresh == reloaded and set(range(0, 5000, 100)) <= fresh


def test_scd2_history(spark):
    from pharmacodi_spark.operators.scd import scd2_history

    changes = spark.createDataFrame(
        [
            (1, 100, "gold", 1),
            (1, 200, "gold", 2),   # unchanged → collapses into the 100 row
            (1, 300, "silver", 3),
            (1, 400, None, 4),     # change TO null is a real version
            (1, 500, None, 5),     # null → null collapses (null-safe)
            (2, 150, "bronze", 6),
        ],
        ["k", "t", "tier", "eid"],
    )
    out = scd2_history(
        changes, key_cols=["k"], attr_cols=["tier"], ts_col="t",
        tiebreak_cols=["eid"],
    ).collect()
    rows = {(r.k, r.valid_from): (r.tier, r.valid_to, r.is_current) for r in out}
    assert rows == {
        (1, 100): ("gold", 300, False),
        (1, 300): ("silver", 400, False),
        (1, 400): (None, None, True),
        (2, 150): ("bronze", None, True),
    }
    # without collapsing, every change row becomes a version
    full = scd2_history(
        changes, key_cols=["k"], attr_cols=["tier"], ts_col="t",
        tiebreak_cols=["eid"], collapse_unchanged=False,
    )
    assert full.count() == 6


def test_resample_fill_gaps(spark):
    from pharmacodi_spark.operators.timeseries import fill_gaps, resample

    df = spark.createDataFrame(
        [(1, 5, 10.0), (1, 12, 20.0), (1, 33, 30.0), (2, 7, 5.0)],
        ["k", "t", "v"],
    )
    res = resample(
        df, 10, "t", ["k"], {"n": F.count("*"), "s": F.sum("v")}
    )
    # buckets: k1 → 0 (t5), 1 (t12), 3 (t33); k2 → 0 only
    out = fill_gaps(res, ["k"], zero_fill={"n": 0}, carry_forward=["s"])
    rows = {(r.k, r.bucket): (r.n, r.s, r.s_filled) for r in out.collect()}
    assert rows[(1, 0)] == (1, 10.0, 10.0)
    assert rows[(1, 1)] == (1, 20.0, 20.0)
    # the gap bucket: zero-filled count, observed value stays null, LOCF
    # carries the last real observation (not the fill constant)
    assert rows[(1, 2)] == (0, None, 20.0)
    assert rows[(1, 3)] == (1, 30.0, 30.0)
    assert rows[(2, 0)] == (1, 5.0, 5.0)
    assert len(rows) == 5  # grid spans each key's own [min, max] only


def test_surrogate_key_dense_global_matches_window(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber"
    )
    dense = surrogate_key(
        li, order_by=["l_orderkey", "l_linenumber"], dense_global=True
    )
    ref = surrogate_key(li, order_by=["l_orderkey", "l_linenumber"]).withColumn(
        "id", F.col("id").cast("long")
    )
    n = li.count()
    assert dense.count() == n
    # ids are a dense 1..n permutation identical to the global-window ranks
    diff = dense.join(ref, ["l_orderkey", "l_linenumber", "id"]).count()
    assert diff == n
