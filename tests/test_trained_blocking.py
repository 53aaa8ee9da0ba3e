"""trained_cell_assign (text/similarity.py): the PRODUCTION blocking
recipe — k-means|| centroids feeding the broadcast-centroid-table
assignment — vs the oracle's lowest-id seeding, on a fixture whose
cluster structure is misaligned with the id order (the failure mode the
recipe exists for). Proves VERDICT r11 item 4's two claims:

1. droplist preservation: every PLANTED duplicate pair survives both
   blockings (identical vectors share a Voronoi cell under ANY seeding)
   and the min-id keeper policy drops the same twin in both;
2. cell balance: on skewed data the lowest-id seeds concentrate the
   off-seed cluster's mass into one giant cell (the quadratic m²/2 term
   the max_cell_size guard then has to re-split), while trained
   centroids spread it — measured max-cell-size gap asserted.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from pharmacodi_spark.text.clusters import near_dup_droplist
from pharmacodi_spark.text.similarity import (
    cell_cosine_pairs,
    seeded_cell_assign,
    trained_cell_assign,
)

N_SEEDED_CLUSTER = 400   # ids 0..399: spread cluster near the origin
N_FAR_BLOB = 800         # ids 400..1199: tight blob FAR from every seed
N_PLANTED = 20           # ids 1200..1219: exact twins of existing rows
N_K = 16
# the suite's default core count (tests/conftest.py: SPARK_GRAFT_CPUS=8)
FIXTURE_SLICES = 8


def _fixture_rows():
    rng = random.Random(53)
    rows = []
    for i in range(N_SEEDED_CLUSTER):
        rows.append((i, [float(rng.randint(-400, 400)) for _ in range(8)]))
    for i in range(N_SEEDED_CLUSTER, N_SEEDED_CLUSTER + N_FAR_BLOB):
        rows.append(
            (i, [2000.0 + rng.randint(-60, 60) for _ in range(8)])
        )
    planted = []
    next_id = N_SEEDED_CLUSTER + N_FAR_BLOB
    for j in range(N_PLANTED):
        # twins from both regions, vectors EXACTLY identical
        orig = rows[j * 37 % len(rows)]
        rows.append((next_id, list(orig[1])))
        planted.append((orig[0], next_id))
        next_id += 1
    return rows, planted


def _run(assigned, ids_df):
    pairs = cell_cosine_pairs(
        assigned,
        vec_col="qe",
        id_col="vec_id",
        cell_col="cid",
        threshold=0.9999,
        max_cell_size=256,
    )
    pair_set = {
        (r["doc_a"], r["doc_b"]) for r in pairs.collect()
    }
    drop = {
        r["vec_id"]: r["keep"]
        for r in near_dup_droplist(ids_df, pairs, id_col="vec_id").collect()
    }
    return pair_set, drop


def test_trained_blocking_preserves_droplist_and_balances_cells(spark):
    rows, planted = _fixture_rows()
    # k-means|| seeds from per-partition samples, so the trained cells
    # depend on how the fixture is sliced: a fixed slice count (not the
    # machine's defaultParallelism) gives every core count the same cells
    qe = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, FIXTURE_SLICES),
        "vec_id long, qe array<double>",
    )
    ids_df = qe.select("vec_id")

    seeded = seeded_cell_assign(qe, N_K, vec_col="qe", out_col="cid")
    trained = trained_cell_assign(
        qe, N_K, vec_col="qe", out_col="cid", max_iter=5
    )

    def max_cell(assigned):
        return (
            assigned.groupBy("cid")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )

    seeded_max, trained_max = max_cell(seeded), max_cell(trained)
    # the misaligned fixture: every lowest-id seed sits in the origin
    # cluster, so the 800-vector far blob collapses into ONE cell —
    # trained centroids allocate most of k to the majority mass instead
    assert seeded_max >= N_FAR_BLOB, (seeded_max, trained_max)
    assert trained_max * 3 <= seeded_max, (seeded_max, trained_max)

    s_pairs, s_drop = _run(seeded, ids_df)
    t_pairs, t_drop = _run(trained, ids_df)
    for a, b in planted:
        lo, hi = min(a, b), max(a, b)
        assert (lo, hi) in s_pairs, (lo, hi)
        assert (lo, hi) in t_pairs, (lo, hi)
        # min-id keeper: the twin (higher id) drops under BOTH blockings
        assert s_drop[hi] is False and t_drop[hi] is False
    # full droplist replay per path: keep ⇔ min id of the component the
    # path's OWN pair set induces (incidental ≥0.9999 pairs inside the
    # tight blob are legitimate members — replay them, don't assume away)
    for pair_set, drop in ((s_pairs, s_drop), (t_pairs, t_drop)):
        parent = {i: i for i, _ in rows}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pair_set:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {i: find(i) == i for i, _ in rows}
        assert drop == expected
