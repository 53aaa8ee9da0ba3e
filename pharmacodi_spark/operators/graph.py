"""Iterative graph algorithms (north star, beyond the connected components
in text/clusters.py): PageRank with EXACT integer arithmetic.

Floating-point PageRank is engine- and partitioning-order-dependent (the
per-node contribution sum is a float reduction); this variant keeps all
rank mass in scaled integers — rank r ∈ [0, scale], contribution =
r div outdeg, damping applied as (num·Σ) div den — so every iteration is
exact integer algebra: the same numbers on any cluster, any partitioning,
any engine. That is what makes an iterative algorithm oracle-checkable at
all, and it is also the production-grade property (re-runs reproduce).

Scale design: one iteration = join(edges, ranks) on src + groupBy dst —
two hash shuffles over the edge list, the same shape GraphX/Pregel uses.
Ranks/outdeg are node-sized (≪ edges). The driver loop only grows the
lazy plan; ``checkpoint_every`` truncates lineage with localCheckpoint so
a 50-iteration run doesn't build a 50-deep DAG (the iterative-algorithm
hygiene Spark requires).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pharmacodi_spark.barrier import stage_barrier


def pagerank_int(
    edges: DataFrame,
    iterations: int = 10,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**9,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 4,
    dangling: str = "ignore",
    tol: int | None = None,
    info: dict | None = None,
) -> DataFrame:
    """Integer PageRank over a directed edge list. Returns (v, r) with r
    the scaled-integer rank after ``iterations`` steps:

        r₀(v)   = scale div N
        rᵢ₊₁(v) = (den−num)·scale div (den·N)
                  + (num · Σ_{u→v} (rᵢ(u) div outdeg(u))) div den

    ``dangling='ignore'`` (the simplified model: mass on out-degree-0 nodes
    leaks, shrinking totals identically everywhere) or ``'redistribute'``
    (production graphs have sinks): each step adds the dangling share
    Dᵢ div N inside the damped term —

        rᵢ₊₁(v) = base + (num · (Σ… + Dᵢ div N)) div den,
        Dᵢ = Σ_{outdeg(u)=0} rᵢ(u)

    — total mass conserved to within N floor-roundings per step, still
    exact non-negative integer algebra in every engine. Dᵢ stays IN the
    plan (1-row aggregate broadcast into the rank update), no per-iteration
    driver action.

    ``tol`` enables convergence early-stop: at every ``checkpoint_every``
    boundary, ``max |rᵢ₊₁ − rᵢ|`` is evaluated (one node-sized aggregate to
    a scalar — the only driver action the loop ever takes) and iteration
    stops once it is ≤ tol (scaled-integer units). Pass ``info={}`` to
    receive ``iterations_run`` / ``converged`` back; ties and rounding are
    exact floor divisions of non-negative longs in every engine."""
    if dangling not in ("ignore", "redistribute"):
        raise ValueError(f"dangling must be 'ignore' or 'redistribute', got {dangling!r}")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # the node set joins into EVERY iteration's rank update — pinned once
    # (r8): unpinned, its union+distinct subplan (which may hang off an
    # arbitrary upstream derivation, e.g. link extraction) re-expands per
    # iteration, and its unknown size stats push the per-iteration
    # nodes⋈contributions join to sort-merge instead of broadcast/hash
    nodes = stage_barrier(
        e.select(F.col("src").alias("v"))
        .union(e.select(F.col("dst").alias("v")))
        .distinct(),
        name="pagerank-nodes",
    )
    n = nodes.count()  # one metadata action; N is a plan literal after this
    base = (damping_den - damping_num) * scale // (damping_den * n)
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    # outdeg is static across iterations — fold it into the edge list ONCE
    # (materialized, partitioned by src) so each iteration is a single
    # edges⋈ranks join instead of two; the join key partitioning carries
    # straight into the contribution shuffle
    e_deg = stage_barrier(e.join(outdeg, "src"), name="pagerank-edges")
    # the sink NODE SET is static across iterations — pin it once (r13).
    # Unpinned, every iteration re-planned a src-distinct + anti-join of
    # the full e_deg pin just to restate the same set; the pinned frame
    # is node-scale metadata and the per-iteration dangling mass becomes
    # one semi-join + 1-row aggregate.
    sinks = None
    if dangling == "redistribute":
        sinks = stage_barrier(
            nodes.join(
                e_deg.select(F.col("src").alias("v")).distinct(),
                "v",
                "left_anti",
            ),
            name="pagerank-sinks",
        )
    ranks = nodes.withColumn("r", F.lit(scale // n).cast("long"))
    converged = False
    iters_run = iterations
    for i in range(iterations):
        prev = ranks
        rank_src = ranks.select(F.col("v").alias("src"), "r")
        # shuffle_hash on the node-scale side (guide §3.1): the pinned
        # frames carry no usable stats, so the planner defaulted these
        # per-iteration joins to sort-merge — paying a sort of BOTH sides
        # every iteration. A hash build of the node-scale side needs no
        # sort and is scale-safe where a broadcast of an evolving
        # corpus-scale rank frame is not (r12 entry 19 measured the
        # per-iteration-broadcast variant losing).
        contrib = e_deg.join(rank_src.hint("shuffle_hash"), "src").select(
            F.col("dst").alias("v"), F.expr("r div outdeg").alias("c")
        )
        summed = contrib.groupBy("v").agg(F.sum("c").alias("s"))
        if dangling == "redistribute":
            dang = (
                ranks.join(sinks.hint("shuffle_hash"), "v", "left_semi")
                .agg(F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("D"))
            )
            ranks = (
                nodes.join(summed.hint("shuffle_hash"), "v", "left")
                .crossJoin(F.broadcast(dang))
                .select(
                    "v",
                    (
                        F.lit(base)
                        + F.expr(
                            f"({damping_num} * (coalesce(s, 0L) + D div {n}))"
                            f" div {damping_den}"
                        )
                    )
                    .cast("long")
                    .alias("r"),
                )
            )
        else:
            ranks = nodes.join(summed.hint("shuffle_hash"), "v", "left").select(
                "v",
                (
                    F.lit(base)
                    + F.expr(f"({damping_num} * coalesce(s, 0L)) div {damping_den}")
                )
                .cast("long")
                .alias("r"),
            )
        at_check = (i + 1) % checkpoint_every == 0
        if at_check and (tol is not None or (i + 1) < iterations):
            ranks = stage_barrier(ranks, name=f"pagerank-iter{i + 1}")
        if tol is not None and at_check:
            delta = (
                ranks.alias("nw")
                .join(prev.alias("pv"), "v")
                .agg(F.max(F.abs(F.col("nw.r") - F.col("pv.r"))).alias("d"))
                .first()
                .d
            )
            if delta is not None and delta <= tol:
                converged = True
                iters_run = i + 1
                break
    if info is not None:
        info.update(iterations_run=iters_run, converged=converged)
    return ranks


def label_propagation(
    edges: DataFrame,
    iterations: int = 5,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 4,
) -> DataFrame:
    """Community detection by synchronous label propagation over the
    undirected closure of ``edges``: every node starts labeled with its own
    id; each step it adopts the most frequent label among its neighbors,
    ties broken by the smaller label — which makes the classically
    order-dependent LPA fully DETERMINISTIC (same fixpoint trajectory on
    any engine/partitioning, the property the oracle checks). Isolated
    nodes keep their own label. Returns (v, label) after ``iterations``.

    Per step: one join (edges⋈labels on the neighbor end) + one
    (node, label) count + one per-node top-1 window — all hash-partitioned
    by node, no global ordering; same Pregel shape and localCheckpoint
    lineage hygiene as ``pagerank_int``."""
    e0 = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    e = e0.union(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    nodes = e.select(F.col("src").alias("v")).distinct()
    labels = nodes.withColumn("label", F.col("v"))
    for i in range(iterations):
        nb = labels.select(F.col("v").alias("dst"), "label")
        counts = (
            e.join(nb, "dst")
            .groupBy(F.col("src").alias("v"), "label")
            .agg(F.count("*").alias("c"))
        )
        w = Window.partitionBy("v").orderBy(F.col("c").desc(), F.col("label"))
        top = (
            counts.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("v", F.col("label").alias("new_label"))
        )
        labels = nodes.join(top, "v", "left").select(
            "v", F.coalesce("new_label", F.col("v")).alias("label")
        )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < iterations:
            labels = stage_barrier(labels, name=f"lpa-iter{i + 1}")
    return labels
