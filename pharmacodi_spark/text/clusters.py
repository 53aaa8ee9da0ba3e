"""Near-dup candidate pairs → clusters → keeper drop-list (VERDICT r1 item 5).

LSH banding (text/dedup.py::minhash_near_dup_pairs, simhash_near_pairs)
stops at candidate PAIRS; a production corpus dedup needs to go from pairs
to one keeper per duplicate *cluster* and a drop list for everything else.
The cluster step is connected components over the pair graph.

Spark-first CC without GraphFrames: iterative hash-min label propagation —
every node starts labeled with itself; each round a node takes the min of
its own label and its neighbors' labels; converge when no label changes.
Rounds = O(max component diameter), which for near-dup clusters is tiny
(they are dense almost-cliques). Each round is two broadcast-free shuffle
joins on (node) plus a metadata-scale count; ``localCheckpoint`` truncates
the lineage every round so the plan does not grow with iterations (the
classic iterative-DataFrame hazard at scale). Graphs of at most
``CC_LOCAL_MAX_EDGES`` edges (one ingest batch's near-dup pairs) skip the
loop: their edges are collected and finished by union-find on the driver.

At 100 TB: the edge list is the LSH output (|pairs| ≪ |docs|), labels are
(node, long) tuples — the shuffles never carry document bodies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pharmacodi_spark.barrier import stage_barrier

#: a contraction map with at most this many rows rides broadcast joins in
#: the CC loop (relabel legs + label fold). Maps are (old, new) long pairs
#: (~16 B/row → ≤16 MB under the session's 64 MB broadcast budget); the
#: bound comes from the edge count the convergence check already pays for.
#: At corpus scale round 0 exceeds it and keeps the shuffle_hash path.
CC_BROADCAST_MAX_ROWS = 1_000_000

#: a directed edge set with at most this many rows is collected and
#: finished on the driver (union-find, min-id root) instead of running the
#: round loop. The loop costs a near-constant ~10 Spark jobs per call
#: (round counts, broadcast builds, the fold); the driver finish costs one
#: bounded collect and an Arrow-built LocalRelation, linear in edges.
#: Measured warm on local[4] (4 vCPU), near_dup_droplist over 5-node
#: cliques, loop vs driver finish: 1.7 vs 0.8 s at 10k edges, 1.7 vs 1.1 s
#: at 50k, 1.7 vs 1.4 s at 100k, 2.4 vs 2.8 s at 200k. The bound sits at
#: half the last winning size, so the collected rows stay a few MB of
#: driver memory. One ingest batch's near-dup graph is far under it;
#: corpus-scale graphs keep the loop.
CC_LOCAL_MAX_EDGES = 50_000

#: pointer-jumping depth (r12): from round CC_COMPOSE_AFTER on, the round's
#: contraction map is composed with itself this many times (upd → upd∘upd →
#: (upd∘upd)∘(upd∘upd), i.e. up to 2^jumps+... hops) before the edges
#: relabel through it. Plain min-contraction needs O(component diameter)
#: rounds — a chain of k transitive near-dups costs k rounds, each a count
#: job + a checkpoint materialization (the measured wall of the CC stage is
#: JOB-count-bound, not data-bound, at bench scale); composition makes the
#: residual round count O(log diameter). Guards (both measured, see
#: OPTIMIZATION_r12.md entry 20):
#:
#: - composition starts only at round CC_COMPOSE_AFTER: dense near-dup
#:   cliques collapse in the first two plain rounds, so early composition
#:   is pure overhead (always-compose regressed ingest_pipeline 9.7→24 s —
#:   each un-pinned composition nests broadcast builds whose children
#:   re-evaluate the whole map plan per consumer); rounds that still have
#:   edges after two contractions are chain-shaped, exactly the case
#:   composition fixes;
#: - the composed map is PINNED (one localCheckpoint job per composing
#:   round) so eu/ev/fold read materialized blocks instead of re-running
#:   the composed plan — the pin pays for itself precisely because
#:   composing rounds replace several plain rounds' count+checkpoint jobs;
#: - composition only runs when the map is broadcast-small (the
#:   CC_BROADCAST_MAX_ROWS bound): the compositions are broadcast joins of
#:   a metadata-scale map. At corpus scale round 0 both exceeds the bound
#:   and precedes CC_COMPOSE_AFTER — unchanged from the r11 shape.
CC_POINTER_JUMPS = 2
CC_COMPOSE_AFTER = 2


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
    edges_canonical: bool = False,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; component is
    the min node id reachable — deterministic, engine-independent labels.

    Raises if not converged after ``max_iter`` rounds (a pathological
    diameter; near-dup graphs converge in <10).

    Physical algorithm (r11): min-label propagation WITH EDGE
    CONTRACTION — after each round every super-node relabels to
    ``min(self, min neighbor)`` and the edge set itself is rewritten
    onto the new labels, dropping self-loops and duplicates. On the
    clique-heavy graphs near-dup dedup produces (sf1 measured 1.6M
    pair edges over 50k docs, avg degree 65), round 1 collapses each
    dense cluster to its minimum and the surviving edge set is a few
    thousand inter-cluster stragglers — so the expensive join work is
    paid ~once, not once per diameter round (the r10 plain-propagation
    version re-joined the FULL 3.2M-row symmetric edge set every round;
    the CC stage dominated text_semantic_dedup's sf1 wall at ~40s of
    54s). Labels stay exactly the min reachable id — contraction onto
    the min preserves min-reachability, pytest + every recursive-CTE
    oracle unchanged.

    ``edges_canonical=True`` declares the input edge set already DISTINCT
    with ``src < dst`` on every row (true for every groupBy-built pair
    producer in this engine). r12 (guide §2.4): it drops BOTH edge-dedup
    exchanges — the directed ``distinct`` (input already unique) and the
    post-mirror ``distinct`` (the two halves of ``union(e, reversed(e))``
    are disjoint when u < v and individually distinct) — so the edge pin
    is a plain projection and the mirror is a lazy union over the pinned
    blocks. The per-round label fold is also deferred (r12): each round
    only pins its contraction map; the |V|-row label table is folded
    through the ≤rounds maps ONCE at the end instead of paying a
    |V|-shuffle + materialization every round.

    Small-graph finish: when the pinned directed edge set has at most
    ``CC_LOCAL_MAX_EDGES`` rows, the edges are collected and labelled by
    union-find with a min-id root on the driver, and the labels come back
    as a LocalRelation typed from the edge schema — one bounded collect
    (which also materializes the pin) instead of the loop's ~10 jobs. Same
    labels: the root of each union-find tree is the minimum id of its
    component. Larger graphs take the round loop above."""
    # pin the DIRECTED edge set before mirroring: ``union(e, reversed(e))``
    # traverses its input twice, and the caller's edge frame is usually an
    # expensive unpinned subplan (the within-cell cosine pair join) — the
    # r11 sf1 profile measured the un-pinned version re-paying the 12s
    # pair stage twice inside this function. Lazy: the bounded collect
    # below is its first consumer, a synchronous driver action.
    sel = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    ded = stage_barrier(
        sel if edges_canonical else sel.distinct(),
        name="cc-edges0", eager=False,
    )
    mirrored = ded.union(
        ded.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # one bounded collect both sizes the graph and fetches a small one
    head = ded.limit(CC_LOCAL_MAX_EDGES + 1).collect()
    if len(head) <= CC_LOCAL_MAX_EDGES:
        return _local_components(
            edges.sparkSession, head, mirrored.schema["u"].dataType
        )
    sym = (
        mirrored
        if edges_canonical
        else stage_barrier(mirrored.distinct(), name="cc-edges")
    )

    # lazy pin (r13): the label table is consumed exactly once, by the
    # end-of-loop fold job — an eager pin here paid a standalone job per
    # CC call for blocks the fold could materialize itself. Lineage is
    # truncated either way.
    labels = stage_barrier(
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("lab", F.col("node")),
        name="cc-labels0", eager=False,
    )
    maps: list[tuple[DataFrame, int]] = []
    e = sym
    done = False
    for round_idx in range(max_iter):
        # empty super-graph = every component fully contracted: done.
        # e is barrier-pinned (or a lazy union over the pinned directed
        # set in round 0), so this is a metadata-cheap count. The FULL
        # count (r12; was limit(1).count() — same one cheap job) also
        # bounds the round's contraction-map size (map rows = distinct u
        # of e <= row count), which picks the join strategy below.
        n_e = e.count()
        if n_e == 0:
            done = True
            break
        # new super-label per super-node: min(self, min neighbor).
        # NOT pinned (r12): the map is derived from the PINNED e by one
        # groupBy, so (a) inside this round's contract pin its exchange is
        # ReuseExchange-shared between the eu/ev legs, and (b) the final
        # fold re-evaluates it from the still-pinned e inside ONE job —
        # pinning it cost a full job + materialization per round in a
        # query whose wall is job-count-bound (93 jobs, 8.6 s wall vs
        # 0.86 s of perfectly-packed executor time, guide §1.1)
        upd = (
            e.groupBy("u")
            .agg(F.min("v").alias("nlab"))
            .select(
                F.col("u").alias("old"),
                F.least(F.col("u"), F.col("nlab")).alias("new"),
            )
        )
        small = n_e <= CC_BROADCAST_MAX_ROWS
        if small and round_idx >= CC_COMPOSE_AFTER:
            # pointer-jump (r12): compose the map with itself so this round
            # contracts multi-hop paths instead of one hop — the residual
            # rounds drop from O(diameter) to O(log diameter). Valid
            # because composition preserves the contraction invariants:
            # new <= old, new is in old's component, and the component
            # minimum is a fixed point (upd(min) = min) — so the loop
            # still terminates exactly when every component has collapsed
            # to its min, and the label fold composes the same (old, new)
            # maps it stores. The map is a FUNCTION (one row per old, from
            # the groupBy); already-fixed labels fall through the left
            # join unchanged. Pinned so consumers (eu/ev legs, the fold)
            # read blocks, not the composed plan (see constant docstring).
            for _ in range(CC_POINTER_JUMPS):
                hop = upd.select(
                    F.col("old").alias("__o"), F.col("new").alias("__n")
                )
                upd = (
                    upd.join(
                        F.broadcast(hop), F.col("new") == F.col("__o"), "left"
                    )
                    .select(
                        "old",
                        F.coalesce("__n", "new").alias("new"),
                    )
                )
            # lazy pin (r13): materialized by whichever relabel-leg
            # broadcast build runs first; a concurrent double-compute of
            # this metadata-scale deterministic map is cheaper than the
            # standalone checkpoint job the eager pin paid every
            # composing round
            upd = stage_barrier(upd, name="cc-map", eager=False)
        maps.append((upd, n_e))
        # contract: rewrite edges onto the new super-labels, drop
        # self-loops and duplicates (symmetry is preserved by the
        # relabel). Every endpoint has edges, so the map join is inner.
        # r12 (guide §3.1): on clique-heavy near-dup graphs the edge set
        # collapses ~30x after round 0, so rounds 1+ relabel against a
        # TINY map — broadcast it (both relabel legs and, below, the
        # fold) instead of paying two shuffle exchanges per join. The
        # row-count bound comes from the n_e already counted above;
        # past the threshold (round 0 at corpus scale) the shuffle_hash
        # path is unchanged.
        if small:
            # ONE broadcast, both relabel legs (r13): aliasing the same
            # hinted frame keeps the BroadcastExchange child canonically
            # identical, so the second leg plans as ReusedExchange — the
            # old per-leg selects (old→u vs old→v) built the same 16-byte
            # map twice per round
            m = F.broadcast(upd)
            rel = (
                e.alias("__ce")
                .join(m.alias("__cma"), F.col("__ce.u") == F.col("__cma.old"))
                .join(m.alias("__cmb"), F.col("__ce.v") == F.col("__cmb.old"))
                .select(
                    F.col("__cma.new").alias("u"),
                    F.col("__cmb.new").alias("v"),
                )
            )
        else:
            eu = upd.select(
                F.col("old").alias("u"), F.col("new").alias("nu")
            ).hint("shuffle_hash")
            ev = upd.select(
                F.col("old").alias("v"), F.col("new").alias("nv")
            ).hint("shuffle_hash")
            rel = (
                e.join(eu, "u")
                .join(ev, "v")
                .select(F.col("nu").alias("u"), F.col("nv").alias("v"))
            )
        # lazy pin (r13): the NEXT round's convergence count is the first
        # consumer and materializes the blocks in its own job — the eager
        # form paid a checkpoint job AND a count job per round
        e = stage_barrier(
            rel.where(F.col("u") != F.col("v")).distinct(),
            name="cc-contract", eager=False,
        )
    if not done:
        raise RuntimeError(
            f"connected_components: not converged after {max_iter} rounds"
        )
    # fold the per-round contraction maps into the original-node label map
    # (nodes whose super-label had no edges keep their label). Executed
    # once, lazily — the maps derive from their round's pinned edge frame,
    # the chain is <= rounds joins. Small maps broadcast (r12): a LEFT
    # join with a broadcast build-right removes both exchanges of the
    # |V|-row label table per fold step.
    for upd, n_e in maps:
        right = (
            F.broadcast(upd)
            if n_e <= CC_BROADCAST_MAX_ROWS
            else upd.hint("shuffle_hash")
        )
        labels = labels.join(
            right,
            labels["lab"] == upd["old"],
            "left",
        ).select("node", F.coalesce("new", "lab").alias("lab"))
    return labels.select("node", F.col("lab").alias("component"))


def _local_components(spark, edges: list, node_type: T.DataType) -> DataFrame:
    """Driver finish of :func:`connected_components` for a small collected
    (u, v) edge list: union-find whose root is always the smaller id, so
    every node's root is the minimum id of its component. A null endpoint
    joins nothing and keeps a null label, as in the round loop."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        if u is None or v is None:
            continue
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    nodes = list(parent)
    schema = T.StructType(
        [T.StructField("node", node_type), T.StructField("component", node_type)]
    )
    table = pa.Table.from_pydict(
        {"node": nodes, "component": [find(x) for x in nodes]},
        schema=to_arrow_schema(schema),
    )
    # an Arrow table becomes a LocalRelation: no tasks, exact row-count stats
    return spark.createDataFrame(table)


def near_dup_droplist(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
    edges_canonical: bool = False,
) -> DataFrame:
    """(id, component, keep) for EVERY id in ``ids``: cluster the candidate
    pairs, keep the min id of each cluster (the reference-style
    deterministic keeper policy — cf. exact_dedup), mark everything else
    drop. Singletons (no pair) keep themselves. Filter ``keep = false`` for
    the drop list; semi-join ``keep = true`` against the corpus for the
    surviving documents. ``edges_canonical`` as in
    :func:`connected_components` (pairs already distinct with src < dst)."""
    comp = connected_components(
        pairs, src=src, dst=dst, edges_canonical=edges_canonical
    )
    # the label attach: full id set LEFT JOIN the component table. Both
    # sides are barrier-pinned RDD scans in every caller, so the planner
    # has no stats and falls back to sort-merge — but the join is a plain
    # equi-join whose build side (labels ≤ the dup mass) is the smaller by
    # construction; hint it hash so neither side pays a sort (the r8
    # pagerank_int lesson, caught again by the r10 text_semantic_dedup
    # plan audit).
    out = (
        ids.select(F.col(id_col))
        .join(comp.hint("shuffle_hash"), ids[id_col] == comp.node, "left")
        .select(
            id_col,
            F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
        )
    )
    return out.withColumn("keep", F.col("component") == F.col(id_col))


def contamination_safe_splits(
    df: DataFrame,
    pairs: DataFrame,
    fractions: list[float],
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
    edges_canonical: bool = False,
) -> list[DataFrame]:
    """Train/val/test splits that near-dup clusters can never straddle:
    label components over the candidate pairs (singletons keep their own
    id), then hash-band the COMPONENT id (operators/sampling.py::
    hash_split) — every member of a cluster shares the component, hence
    the band, so a test document's near-duplicate cannot sit in train (the
    decontamination requirement for LLM eval splits; doc-keyed splits
    cannot give it). Deterministic on any engine/partitioning; each
    returned frame carries a ``component`` column for audit."""
    from pharmacodi_spark.operators.sampling import hash_split

    comp = near_dup_droplist(
        df.select(id_col), pairs, id_col=id_col, src=src, dst=dst,
        edges_canonical=edges_canonical,
    )
    keyed = df.join(comp.select(id_col, "component"), id_col)
    return hash_split(keyed, "component", fractions, "split")


def dup_cluster_histogram(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
    edges_canonical: bool = False,
) -> DataFrame:
    """Cluster-size distribution of the near-dup graph: how much of the
    corpus sits in how-big duplicate clusters — the curation-report table
    that separates "a few mirrored pages" (many size-2 clusters) from "a
    boilerplate storm" (one giant component), and the input to sizing the
    hot-cell guard (``triangle_blocks``' cap should exceed the typical
    cluster, not the pathological one).

    Per ``cluster_size``: ``n_clusters`` and ``n_docs`` (= size ×
    clusters; singletons are size-1 rows, so the column sums to the
    corpus).  Scale shape: the CC loop's shuffles are edge-scale; the two
    rollups (component → size, size → histogram) collapse map-side and
    end metadata-scale."""
    keep = near_dup_droplist(
        ids, pairs, id_col=id_col, src=src, dst=dst,
        edges_canonical=edges_canonical,
    )
    sizes = keep.groupBy("component").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").cast("long").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
        )
    )
