"""Vector similarity search (north star): brute-force cosine top-k baseline
+ LSH-bucketed scale path over an ``array<float>`` embedding column.

Physical design:
- the query vector is a broadcast literal — the embedding table never
  shuffles for a top-k probe;
- dot/norm are native higher-order functions (``zip_with`` +
  ``aggregate``) — JVM-side, no Python;
- top-k compiles to TakeOrderedAndProject (per-partition heaps), not a
  global sort;
- the LSH variant buckets by random-hyperplane sign bits, so a probe scans
  only matching buckets (the IVF pattern); at 100 TB the bucket column is a
  partition key and probes prune partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pharmacodi_spark.barrier import stage_barrier
from pharmacodi_spark.functions.scalar import (
    double_array_lit,
    double_matrix_lit,
    int_array_lit,
    local_df,
    long_matrix_lit,
)
from pharmacodi_spark.operators.partitioning import (
    pin_pair_parallelism,
    spread_small_scan,
)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _sq_l2(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def cosine_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact brute-force cosine top-k vs one query vector — the referee for
    the approximate variants. Tie-broken on id for determinism."""
    q = F.lit(query).cast("array<double>")
    v = _as_double(F.col(vec_col))
    cos = _dot(v, q) / (_norm(v) * _norm(q))
    return (
        df.select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def hyperplane_buckets(
    df: DataFrame,
    planes: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH: bucket id = sign bits of <v, plane_j>.
    ``planes`` are driver-generated (seeded) hyperplanes — the index build.
    Adds a ``bucket`` int column; at scale, write partitioned by it."""
    v = _as_double(F.col(vec_col))
    bucket: Column = F.lit(0)
    for j, plane in enumerate(planes):
        p = F.lit(plane).cast("array<double>")
        bit = F.when(_dot(v, p) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bucket.bitwiseOR(bit)
    return df.withColumn("bucket", bucket)


def train_ivf_centroids(
    df: DataFrame,
    n_centroids: int = 64,
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 20,
) -> list[list[float]]:
    """IVF index build: train coarse centroids with k-means|| (pyspark.ml's
    distributed init — the production path for corpus-scale embeddings).
    Returns the centroid list (index metadata: n_centroids × dim floats —
    driver-resident by design, like any ANN index's coarse quantizer).

    At 100 TB: the training itself is distributed; only the centroid matrix
    (a few MB) comes back to the driver, then ships to executors as the
    broadcast one-row centroid table of ``ivf_assign``."""
    from pyspark.ml.clustering import KMeans  # ships with pyspark
    from pyspark.ml.functions import array_to_vector

    feats = df.select(array_to_vector(_as_double(F.col(vec_col))).alias("features"))
    model = KMeans(
        k=n_centroids, seed=seed, maxIter=max_iter, initMode="k-means||"
    ).fit(feats)
    return [[float(x) for x in c] for c in model.clusterCenters()]


def ivf_assign(
    df: DataFrame,
    centroids: "list[list[float]] | DataFrame",
    vec_col: str = "embedding",
    out_col: str = "centroid_id",
    cid_col: str = "cid",
    cvec_col: str = "cvec",
) -> DataFrame:
    """Assign each vector to its nearest centroid (squared L2, ties → lower
    centroid id) with the centroid matrix as DATA: the k-row centroid
    table collapses to ONE row carrying ``array<struct<i,c>>``,
    broadcast-cross-joined onto the corpus, and the argmin is
    ``array_min`` over a ``transform`` of that array column — the plan
    has a FIXED handful of expression nodes no matter how large k is
    (with the k = n div 256 blocking rule, production corpora need k in
    the 1e4–1e6 range).

    ``centroids``: a driver list (``train_ivf_centroids`` output; cid =
    list index) or a k-row DataFrame ``(cid int, cvec array)`` — e.g.
    centroids maintained as a table by an index-build job, never
    collected to the driver.

    Physical shape (100 TB): BroadcastNestedLoopJoin against a 1-row
    relation — one broadcast of k·dim doubles (index metadata, the same
    bytes every ANN engine ships to every search node), zero shuffle of
    the corpus, all columns preserved, no groupBy/join-back. At scale,
    write the result partitioned by ``out_col``: probes then prune
    partitions.

    Exactness note: with integer-valued inputs (e.g. quantized embeddings)
    every distance is an exact integer-valued double (< 2⁵³), so the argmin
    is engine-deterministic — the property the oracle queries rely on.

    Measured (r12, SCALING.md "IVF assignment tiers"): per-row cost is
    k·dim interpreted HOF multiplies, so wall grows ~8.5× per decade of
    k (5.65s @ k=1e3 → 48.1s @ k=1e4 on 20k×32-dim);
    :func:`ivf_assign_arrow` ties this path at k=128 and wins ~9× from
    k≈1e3 — call the GEMM tier whenever its integer-exactness contract
    (or a don't-care on last-ULP float ties) applies; this path needs
    no Python workers and accepts a never-collected centroid DataFrame."""
    if isinstance(centroids, DataFrame):
        cdf = centroids.select(
            F.col(cid_col).cast("int").alias("__i"),
            F.col(cvec_col).cast("array<double>").alias("__c"),
        )
        # Loud emptiness guard (ADVICE r11): an empty centroid table would
        # yield array_min over an empty array = silent NULL out_col, which
        # downstream join-backs would silently DROP instead of failing.
        if cdf.limit(1).count() == 0:
            raise ValueError("ivf_assign: centroid DataFrame is empty")
        one = cdf.agg(
            F.collect_list(F.struct("__i", "__c")).alias("__cents")
        )
    else:
        if not centroids:
            raise ValueError("ivf_assign: centroid list is empty")
        # a driver list is already the one row: a one-row VALUES relation
        # holding the matrix, numbered by the transform index — no
        # aggregate, no shuffle
        mat = [[float(x) for x in c] for c in centroids]
        one = local_df(
            df.sparkSession, [(mat,)], ["__m"], types=["array<array<double>>"]
        ).select(
            F.transform(
                "__m", lambda c, i: F.struct(i.alias("__i"), c.alias("__c"))
            ).alias("__cents")
        )
    v = _as_double(F.col(vec_col))
    pairs = F.transform(
        F.col("__cents"),
        lambda c: F.struct(_sq_l2(v, c["__c"]).alias("d2"), c["__i"].alias("i")),
    )
    # k·dim multiplies per row, scan-side: spread a single-split scan
    # before the argmin (no-op at corpus scale, r12 §2.5)
    return (
        spread_small_scan(df).crossJoin(F.broadcast(one))
        .withColumn(out_col, F.array_min(pairs)["i"])
        .drop("__cents")
    )


def seeded_cell_assign(
    df: DataFrame,
    n_k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "centroid_id",
) -> DataFrame:
    """Lowest-id-seeded cell assignment with NO driver traffic — the
    blocking stage of the semantic-dedup E2Es (seeds = rows with
    ``id < n_k``, cid = seed id; SQL-reproducible, hence oracle-gated).
    The seed frame feeds :func:`ivf_assign` as a centroid DataFrame, so
    nothing returns to the driver at any ``n_k``.

    cid is the seed id itself, so the ids must run contiguously from 0:
    a gapped or short id space raises instead of silently proceeding
    with fewer cells. One count on the id-filtered seed frame —
    engine-side, never collected."""
    seeds = df.where(F.col(id_col) < n_k)
    n_seeds = seeds.count()
    if n_seeds != n_k:
        raise ValueError(
            f"seeded_cell_assign needs ids contiguous from 0: expected "
            f"{n_k} seed rows with {id_col} < {n_k}, found {n_seeds}"
        )
    cdf = seeds.select(
        F.col(id_col).cast("int").alias("__cid"),
        F.col(vec_col).alias("__cvec"),
    )
    return ivf_assign(
        df, cdf, vec_col=vec_col, out_col=out_col,
        cid_col="__cid", cvec_col="__cvec",
    )


def trained_cell_assign(
    df: DataFrame,
    n_k: int,
    vec_col: str = "embedding",
    out_col: str = "centroid_id",
    max_iter: int = 10,
) -> DataFrame:
    """The PRODUCTION blocking recipe for semantic dedup (r12, VERDICT
    r11 item 4): k-means||-trained centroids (:func:`train_ivf_centroids`)
    feeding the constant-plan broadcast-centroid-table assignment
    (:func:`ivf_assign`). Drop-in for :func:`seeded_cell_assign`
    in the semantic-dedup cascade (assign → cell_cosine_pairs →
    near_dup_droplist) — the lowest-id-seed path stays the ORACLE recipe
    (SQL-reproducible by construction); this one is what you run at
    corpus scale, because cell BALANCE is what bounds the quadratic
    within-cell pair term: lowest-id seeds are an arbitrary sample (the
    r11 pytest measured >5× inertia vs trained on the same data), so
    under real cluster structure a few giant cells concentrate the m²/2
    pair work and the max_cell_size triangle guard has to re-split them;
    trained centroids spread the mass near-evenly
    (tests/test_trained_blocking.py measures the distribution gap and
    proves the planted-duplicate droplist is preserved).

    Scale shape: training is distributed (k-means|| init, Lloyd on the
    JVM side); only the k×dim centroid matrix touches the driver (index
    metadata, a few MB), then ships back ONCE as the broadcast 1-row
    centroid table — plan size constant in k, corpus never reshuffled.
    Near-duplicate pairs sit at distance ~0, so any Voronoi refinement
    of the space keeps them co-located: the blocking RECALL argument is
    seeding-independent, only the cell-size distribution changes."""
    cents = train_ivf_centroids(
        df, n_centroids=n_k, vec_col=vec_col, max_iter=max_iter
    )
    return ivf_assign(df, cents, vec_col=vec_col, out_col=out_col)


def ivf_assign_arrow(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "centroid_id",
) -> DataFrame:
    """Nearest-centroid assignment as one vectorized GEMM per Arrow batch
    — the caller-picked alternative to :func:`ivf_assign` wherever
    evaluating k·dim interpreted higher-order-function multiplies per ROW
    loses to BLAS — measured r12 (SCALING.md): that is already k ≈ 1e3
    (9× faster), with a tie at k=128; :func:`ivf_assign` keeps the
    no-Python-workers / never-collected-centroid-frame niches. Nothing
    dispatches here automatically. The centroid matrix ships once per
    executor via ``SparkContext.broadcast`` (torrent protocol, NOT
    per-task serialization) and each batch computes
    ``argmin_k(|c_k|² − 2·X·Cᵀ)`` — dropping the per-row ``|x|²`` term,
    which is constant within a row and cannot change the argmin.

    Exactness contract: for INTEGER-valued vectors/centroids with
    ``dim · max|x|² < 2⁵³`` every product and partial sum in the GEMM is
    an exact float64 integer, so the result is bit-identical to
    :func:`ivf_assign` (pytest-proven); ``np.argmin`` takes the first
    minimum = lowest centroid id, matching the (d2, cid) struct
    ordering. Float centroids may differ in the last ULP across paths —
    quantize first (int8_quantize / the qe convention) when
    cross-engine determinism matters."""
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(np.asarray(centroids, dtype=np.float64))
    out_schema = StructType(
        df.schema.fields + [StructField(out_col, IntegerType(), False)]
    )

    def assign(batches):
        cm = bc.value  # k × dim
        cn2 = (cm * cm).sum(axis=1)  # k
        for pdf in batches:
            if len(pdf):
                x = np.asarray(
                    [np.asarray(r, dtype=np.float64) for r in pdf[vec_col]]
                )
                scores = cn2[None, :] - 2.0 * (x @ cm.T)
                pdf[out_col] = scores.argmin(axis=1).astype("int32")
            else:
                pdf[out_col] = np.array([], dtype="int32")
            yield pdf

    return df.mapInPandas(assign, schema=out_schema)


def ivf_topk(
    df: DataFrame,
    centroids: list[list[float]],
    query: list[float],
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "cosine",
) -> DataFrame:
    """IVF probe: score only vectors assigned to the ``nprobe`` centroids
    nearest the query (picked driver-side from the index metadata — exact
    integer/float math over n_centroids rows). The corpus side is one
    :func:`ivf_assign` pass against the broadcast centroid table, the
    same constant-size plan at every k. The centroid filter is a
    pushable predicate → partition pruning when the corpus is stored
    partitioned by centroid_id. ``metric``: "cosine" (float) or "dot"
    (exact for integer-valued vectors)."""
    assigned = ivf_assign(df, centroids, vec_col)
    ranked = sorted(
        (sum((x - y) ** 2 for x, y in zip(c, query)), i)
        for i, c in enumerate(centroids)
    )
    probes = [i for _, i in ranked[:nprobe]]
    cand = assigned.where(F.col("centroid_id").isin(probes))
    if metric == "dot":
        v = _as_double(F.col(vec_col))
        q = F.lit(query).cast("array<double>")
        return (
            cand.select(F.col(id_col), _dot(v, q).alias("dot"), "centroid_id")
            .orderBy(F.col("dot").desc(), F.col(id_col))
            .limit(k)
        )
    return cosine_topk(cand, query, k, vec_col, id_col)


def train_pq_codebooks(
    df: DataFrame,
    m_subspaces: int = 4,
    k_codes: int = 32,
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Product-quantization index build: split the vector into ``m_subspaces``
    contiguous subvectors and train one k-means|| codebook per subspace
    (20 iterations, seed 7 + subspace).
    Returns codebooks[m][k] = centroid subvector — driver-resident index
    metadata (m·k·(dim/m) floats, a few KB), exactly like the IVF coarse
    quantizer. Training is distributed; only centroids come back."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim = len(df.select(vec_col).first()[0])
    if dim % m_subspaces:
        raise ValueError(f"dim {dim} not divisible by m_subspaces {m_subspaces}")
    dsub = dim // m_subspaces
    v = _as_double(F.col(vec_col))
    books: list[list[list[float]]] = []
    for m in range(m_subspaces):
        feats = df.select(
            array_to_vector(F.slice(v, m * dsub + 1, dsub)).alias("features")
        )
        model = KMeans(
            k=k_codes, seed=7 + m, maxIter=20, initMode="k-means||"
        ).fit(feats)
        books.append([[float(x) for x in c] for c in model.clusterCenters()])
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Encode each vector as M codebook indices (squared-L2 argmin per
    subspace, ties → lower code). The 100 TB memory story: M small ints
    replace 4·dim bytes per vector — a 64-dim float corpus compresses 64×
    at M=4, and the scan side of a probe reads only the code column.
    Native slice + array_min argmin; no UDF, no shuffle."""
    # M·K·dsub multiplies per row, scan-side: spread a single-split scan
    # before the argmin (no-op at corpus scale, r12 §2.5)
    df = spread_small_scan(df)
    v = _as_double(F.col(vec_col))
    codes = []
    for m, book in enumerate(codebooks):
        dsub = len(book[0])
        sub = F.slice(v, m * dsub + 1, dsub)
        # per-subspace codebook as ONE folded matrix literal + transform
        # index argmin (r12, guide §1.2) — was K CreateArray(dsub)-literal
        # struct subtrees per subspace; math/tie-break/results identical
        mat = double_matrix_lit([[float(x) for x in entry] for entry in book])
        pairs = F.transform(
            mat,
            lambda c, i: F.struct(_sq_l2(sub, c).alias("d2"), i.alias("i")),
        )
        codes.append(F.array_min(pairs)["i"])
    return df.withColumn(out_col, F.array(*codes))


def pq_adc_topk(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    code_col: str | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k: the query stays un-quantized; the driver
    precomputes the M×K table of (query subvector ↔ codebook entry) squared
    distances, ships it as a plan literal, and each row's approximate
    distance is M table lookups summed — no per-row vector math at probe
    time. Pass ``code_col`` to scan a pre-encoded corpus (the production
    path: encode once at ingest, probe from codes alone); otherwise encodes
    on the fly. Exact-integer note: with integer-valued inputs every table
    cell and sum stays < 2^53, so ranking is engine-deterministic."""
    m_subspaces = len(codebooks)
    dsub = len(codebooks[0][0])
    tables = [
        [
            sum(
                (x - y) ** 2
                for x, y in zip(query[m * dsub : (m + 1) * dsub], entry)
            )
            for entry in book
        ]
        for m, book in enumerate(codebooks)
    ]
    if code_col is None:
        df = pq_encode(df, codebooks, vec_col, "pq_code")
        code_col = "pq_code"
    d2 = None
    for m in range(m_subspaces):
        term = F.get(double_array_lit(tables[m]), F.col(code_col)[m])
        d2 = term if d2 is None else d2 + term
    return (
        df.select(F.col(id_col), d2.alias("d2_adc"))
        .orderBy(F.col("d2_adc").asc(), F.col(id_col))
        .limit(k)
    )


def ivf_pq_topk(
    df: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    query: list[float],
    k: int = 10,
    shortlist: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ with exact re-rank — the standard production ANN pipeline
    composed from the parts above: (1) the IVF coarse quantizer prunes the
    corpus to the 2 nearest cells (pushable predicate → partition pruning);
    (2) PQ asymmetric distances — M table lookups per row, no vector math —
    rank the survivors into a ``shortlist`` (default 5k); (3) only the
    shortlist's full vectors are read again for the exact dot-product
    top-k. At 100 TB stage 3 touches a few hundred rows no matter the
    corpus size; stages 1–2 never read the vector column at probe time
    when codes are pre-stored. Integer-valued inputs keep every stage
    engine-deterministic (ties broken on id)."""
    shortlist = shortlist or 5 * k
    assigned = ivf_assign(df, centroids, vec_col)
    ranked = sorted(
        (sum((x - y) ** 2 for x, y in zip(c, query)), i)
        for i, c in enumerate(centroids)
    )
    probes = [i for _, i in ranked[:2]]
    cand = assigned.where(F.col("centroid_id").isin(probes))
    short = pq_adc_topk(
        cand, codebooks, query, k=shortlist, vec_col=vec_col, id_col=id_col
    )
    v = _as_double(F.col(vec_col))
    q = F.lit(query).cast("array<double>")
    return (
        df.join(short.select(id_col), id_col)
        .select(F.col(id_col), _dot(v, q).alias("dot"))
        .orderBy(F.col("dot").desc(), F.col(id_col))
        .limit(k)
    )


def lsh_bucket_topk(
    df: DataFrame,
    query: list[float],
    planes: list[list[float]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: score only vectors whose hyperplane bucket is
    within ``probe_hamming`` bits of the query's bucket (multi-probe IVF
    pattern). Bucket filter is a pushable predicate → partition pruning when
    the table is partitioned by bucket."""
    bucketed = hyperplane_buckets(df, planes, vec_col)
    qbucket = 0
    for j, plane in enumerate(planes):
        dot = sum(x * y for x, y in zip(query, plane))
        if dot >= 0:
            qbucket |= 1 << j
    candidates = bucketed.where(
        F.bit_count(F.col("bucket").bitwiseXOR(F.lit(qbucket))) <= probe_hamming
    )
    return cosine_topk(candidates, query, k, vec_col, id_col)


#: widest vector :func:`cell_cosine_pairs` flattens into JVM codegen;
#: wider vectors score in :func:`cell_cosine_pairs_arrow`. Janino-compiled
#: straight-line dots degrade (and eventually fall back to interpreted) in
#: the thousands of operators (VERDICT r4), while BLAS beat the per-pair
#: zip_with fold at every width measured (SCALING.md r12: 2.1x at dim 256,
#: 3.4x at 512 on 780k candidate dots).
CELL_PAIRS_FLATTEN_MAX_DIM = 128

#: embedding components quantize to integers as ``floor(x·VEC_QUANT + 0.5)``
#: wherever a similarity must be engine-exact
VEC_QUANT = 10_000

#: rows per call of an injected pair scorer (cross-encoder batch size)
SCORER_BATCH_ROWS = 64


def cell_cosine_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "centroid_id",
    threshold: float = 0.8,
    max_cell_size: int | None = None,
) -> DataFrame:
    """Within-cell cosine-similar pairs (doc_a < doc_b, cosine >= threshold)
    — the scoring stage of SemDeDup-style blocking (assign cells with
    :func:`ivf_assign`, then only same-cell pairs are compared).

    Two physical paths for the hot loop (pairs x dim multiplies), picked
    by the vector width:

    - dim <= ``CELL_PAIRS_FLATTEN_MAX_DIM``: the vector is flattened to
      scalar columns so the dot product is straight-line whole-stage
      codegen — JVM-only, no Python workers;
    - wider: one numpy GEMM per cell block
      (:func:`cell_cosine_pairs_arrow`). The Arrow path is bit-identical
      for integer-valued vectors (the ivf_assign_arrow exactness
      contract) and may differ in the last ULP for float inputs —
      quantize first when cross-engine determinism matters.

    ``max_cell_size`` arms the exact triangle-block hot-cell guard
    (text/dedup.py::triangle_blocks): same pair set, per-task work bounded
    under cell skew. Both paths and both guard settings produce identical
    results; only the physical plan differs.
    """
    from pharmacodi_spark.text.dedup import triangle_blocks, triangle_pair_cond

    dim = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if dim is None:
        return (
            df.sparkSession.range(0)
            .select(
                F.col("id").alias("doc_a"), F.col("id").alias("doc_b")
            )
        )
    dim = dim.d
    if dim > CELL_PAIRS_FLATTEN_MAX_DIM:
        return cell_cosine_pairs_arrow(
            df,
            vec_col=vec_col,
            id_col=id_col,
            cell_col=cell_col,
            threshold=threshold,
            max_cell_size=max_cell_size,
        )
    v = _as_double(F.col(vec_col))
    base = df.select(
        F.col(id_col),
        F.col(cell_col),
        v.alias("__v"),
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x).alias("__n2"),
    # zero-norm vectors have no cosine: exclude them EXPLICITLY rather
    # than inherit the session's division semantics (ANSI — Spark 4's
    # default — raises DIVIDE_BY_ZERO on the pair expression; legacy
    # mode yields NULL and silently drops). Both tiers share this rule,
    # so the arrow path is equivalent row-for-row (r12).
    ).where(F.col("__n2") > 0).select(
        id_col,
        cell_col,
        "__n2",
        *[F.element_at("__v", i + 1).alias(f"__x{i}") for i in range(dim)],
    )
    if max_cell_size is not None:
        blk = triangle_blocks(base, [cell_col], id_col, max_cell_size)
        # pin the pair-join exchange to defaultParallelism: AQE coalesces
        # it by BYTES (a few id+vector KB) while the within-cell dot work
        # is quadratic in rows — measured as a 3.3 s ONE-task straggler in
        # text_semantic_dedup at sf0.1 (r12, guide §2.5); per-key mass is
        # already bounded by the triangle guard, so no skew-split is lost
        blk = pin_pair_parallelism(blk, [cell_col, "__bi", "__bj"])
        cond = triangle_pair_cond([cell_col], id_col)
    else:
        blk = base
        cond = (F.col(f"a.{cell_col}") == F.col(f"b.{cell_col}")) & (
            F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
        )
    a, b = blk.alias("a"), blk.alias("b")
    dot = None
    for i in range(dim):
        term = F.col(f"a.__x{i}") * F.col(f"b.__x{i}")
        dot = term if dot is None else dot + term
    return (
        a.join(b, cond)
        .where(dot / F.sqrt(F.col("a.__n2") * F.col("b.__n2")) >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
    )


def cell_cosine_pairs_arrow(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "centroid_id",
    threshold: float = 0.8,
    max_cell_size: int | None = None,
    slab_rows: int = 1024,
) -> DataFrame:
    """Within-cell cosine pairs scored as ONE numpy GEMM per cell block —
    the wide-embedding path of :func:`cell_cosine_pairs` (picked for
    vectors wider than ``CELL_PAIRS_FLATTEN_MAX_DIM``). Each cell block
    becomes one ``applyInPandas`` group and all its pair dots are a
    single BLAS matmul, where a per-pair JVM fold would pay ``dim``
    interpreted lambda steps per candidate PAIR (ROADMAP r11: 12 s for
    6.4M candidate dots at sf1).

    Same pair set as the join path, both guard settings:

    - ``max_cell_size=None``: one group per cell; the GEMM is slabbed
      (``slab_rows`` × m) so memory stays bounded even on a hot cell —
      but TIME is still O(m²) in one task, so at scale arm the guard;
    - ``max_cell_size=k``: the cell is decomposed by
      text/dedup.py::triangle_blocks and each (bi, bj) block is one
      group — the diagonal blocks score their subgroup's triangle, the
      off-diagonal blocks score only CROSS-subgroup pairs (the
      triangle diagonal rule), so every within-cell pair is emitted
      exactly once and per-task work is bounded at (2k)² regardless of
      skew.

    Exactness contract (the ivf_assign_arrow clause): the comparison is
    the SAME IEEE expression as the join path —
    ``dot / sqrt(n2_a · n2_b) >= threshold`` with the norm product
    multiplied in float64 BEFORE the sqrt — so for INTEGER-valued vectors
    with ``dim · max|x|² < 2⁵³`` every dot and norm is an exact float64
    integer and the emitted pairs are bit-identical to the codegen path
    (pytest-proven). Float inputs may differ in the last ULP across paths
    (GEMM reassociates the sum); quantize first (int8_quantize / the qe
    convention) when cross-engine determinism matters.

    Scale shape (100 TB): vectors shuffle ONCE keyed by (cell, block) —
    the same exchange the join path pays — then never again; no pair-
    blowup ever reaches an exchange (pairs materialize inside the Arrow
    worker and only id pairs leave). ``id_col`` must be numeric (ids
    travel through numpy min/max).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    assert slab_rows >= 1, "slab_rows must be positive"
    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("doc_a", id_type, False),
            StructField("doc_b", id_type, False),
        ]
    )
    thr = float(threshold)

    # the shared zero-norm rule (see cell_cosine_pairs): excluded BEFORE
    # the triangle decomposition so block counts match the codegen path
    v = _as_double(F.col(vec_col))
    base = df.select(id_col, cell_col, vec_col).where(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x) > 0
    )
    if max_cell_size is not None:
        from pharmacodi_spark.text.dedup import triangle_blocks

        blk = triangle_blocks(base, [cell_col], id_col, max_cell_size)
        group_keys = [cell_col, "__bi", "__bj"]
    else:
        blk = base
        group_keys = [cell_col]

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        x = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )
        n2 = (x * x).sum(axis=1)
        out_a: list[np.ndarray] = []
        out_b: list[np.ndarray] = []
        cross = (
            "__g" in pdf.columns
            and int(pdf["__bi"].iat[0]) != int(pdf["__bj"].iat[0])
        )
        if cross:
            ga = pdf["__g"].to_numpy() == int(pdf["__bi"].iat[0])
            ia = np.flatnonzero(ga)
            ib = np.flatnonzero(~ga)
            for s in range(0, len(ia), slab_rows):
                sl = ia[s : s + slab_rows]
                den = np.sqrt(n2[sl][:, None] * n2[ib][None, :])
                cos = (x[sl] @ x[ib].T) / den
                r, c = np.nonzero(cos >= thr)
                u, v = ids[sl[r]], ids[ib[c]]
                out_a.append(np.minimum(u, v))
                out_b.append(np.maximum(u, v))
        else:
            for s in range(0, len(ids), slab_rows):
                sl = slice(s, s + slab_rows)
                den = np.sqrt(n2[sl][:, None] * n2[None, :])
                cos = (x[sl] @ x.T) / den
                r, c = np.nonzero(cos >= thr)
                u, v = ids[sl][r], ids[c]
                keep = u < v
                out_a.append(u[keep])
                out_b.append(v[keep])
        if out_a:
            return pd.DataFrame(
                {
                    "doc_a": np.concatenate(out_a),
                    "doc_b": np.concatenate(out_b),
                }
            )
        return pd.DataFrame({"doc_a": ids[:0], "doc_b": ids[:0]})

    return blk.groupBy(*group_keys).applyInPandas(score, schema=out_schema)


def int8_quantize(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "q8",
    l2_normalize: bool = False,
) -> DataFrame:
    """Per-vector symmetric int8 quantization: ``q_i = floor(x_i·127/m +
    0.5)`` with ``m = max_i |x_i|`` (zero vectors quantize to zeros).

    The arithmetic is float32→double promotion (exact) followed by one
    multiply, one divide, one add, one floor — all correctly-rounded IEEE
    ops, so Spark and DuckDB produce bit-identical codes (no libm; the
    l2 path adds sum-of-squares — a left fold, same order both engines —
    and one sqrt, also correctly rounded).

    ``l2_normalize=True`` divides by the vector's l2 norm BEFORE max-abs
    coding. The codes are mathematically unchanged (the norm cancels
    inside ``x·127/m``), but ``q_scale`` becomes the max-abs of the UNIT
    vector — so a de-scaled dot ``qdot·q_scale`` ranks by cosine, not by
    raw dot divided by an arbitrary per-vector max (the recall gap
    RECALL.md attributes to max-abs normalization).

    Scale story: codes are dim×1 B vs dim×4 B floats (4× less shuffle /
    cache traffic for candidate scoring), and downstream dot products
    become exact integer arithmetic — SIMD-friendly and free of float
    accumulation-order nondeterminism.  Keep ``m`` (``q_scale``) alongside
    to de-quantize scores: ``dot ≈ qdot·(m_a/127)·(m_b/127)``.
    """
    vec = F.col(vec_col)
    if l2_normalize:
        n2 = F.aggregate(
            vec,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
        norm = F.sqrt(n2)
        vec = F.when(norm == 0.0, F.col(vec_col)).otherwise(
            F.transform(F.col(vec_col), lambda v: v.cast("double") / norm)
        )
        df = df.withColumn("__nvec", vec)
        vec = F.col("__nvec")
    m = F.aggregate(
        vec, F.lit(0.0), lambda acc, v: F.greatest(acc, F.abs(v.cast("double")))
    )
    df = df.withColumn("q_scale", m)
    q = F.when(
        F.col("q_scale") == 0.0,
        F.transform(vec, lambda v: F.lit(0).cast("long")),
    ).otherwise(
        F.transform(
            vec,
            lambda v: F.floor(
                v.cast("double") * 127.0 / F.col("q_scale") + 0.5
            ).cast("long"),
        )
    )
    out = df.withColumn(out_col, q)
    return out.drop("__nvec") if l2_normalize else out


def int8_weighted_topk(
    df: DataFrame,
    weights: list[int],
    k: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    l2_normalize: bool = False,
) -> DataFrame:
    """Top-``k`` vectors by integer dot of int8-quantized embeddings
    against an integer query vector — the quantized-index probe path.

    Default ranking is the raw integer ``qdot`` — per-vector max-abs codes,
    so the implicit score is ``dot/max_abs``: cheap, all-integer, but the
    per-vector divisor depresses recall vs true cosine (RECALL.md).
    ``l2_normalize=True`` quantizes against the unit vector and ranks by
    the de-scaled ``score = qdot·q_scale`` (one double multiply —
    correctly rounded, so still bit-identical across engines), which is
    proportional to cosine up to 8-bit rounding: near-exact recall at the
    same 4×-smaller scan.

    The whole probe is narrow: quantize + dot are per-row ``transform`` /
    ``aggregate`` higher-order functions (no explode, no shuffle), and the
    top-k compiles to TakeOrderedAndProject.  At 100 TB this scans the
    (4× smaller, partition-pruned) code column and touches no exchange.
    """
    q8 = int8_quantize(
        df, vec_col=vec_col, id_col=id_col, l2_normalize=l2_normalize
    )
    w = int_array_lit(weights)
    qdot = F.aggregate(
        F.zip_with(F.col("q8"), w, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    if l2_normalize:
        scored = q8.select(
            F.col(id_col),
            (qdot.cast("double") * F.col("q_scale")).alias("score"),
        )
        return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)
    return (
        q8.select(F.col(id_col), qdot.alias("qdot"))
        .orderBy(F.col("qdot").desc(), F.col(id_col))
        .limit(k)
    )


def mmr_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 8,
    lam_pct: int = 70,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple]:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998): pick k
    results that are RELEVANT to the query but DIVERSE among themselves —
    greedily maximize ``λ·rel(v) − (1−λ)·max_{s∈S} sim(v, s)``.  The
    de-duplicating re-rank step of a RAG stack (plain top-k returns five
    near-copies of the same passage; MMR returns one plus four distinct
    angles).

    All-integer: vectors quantize to ints (``floor(x·VEC_QUANT + 0.5)``),
    relevance and pairwise similarity are integer dot products, the key is
    ``lam_pct·rel − (100−lam_pct)·max_sim`` with ties to the lower id —
    deterministic on any engine/partitioning.

    Scale shape: run it on the BOUNDED candidate set an ANN probe
    returns (N ≈ 100–1000), not the corpus — each of the k rounds is one
    scan of the candidates with the selected vectors riding as plan
    literals, resolved by ``TakeOrderedAndProject`` heaps and a ONE-row
    collect.  Driver traffic is k rows + k·dim ints (index metadata).
    Returns the ordered ``[(id, rel_scaled, mmr_key), ...]`` selection —
    a list, not a DataFrame, because the selection IS driver-state
    (ships onward as a literal filter).
    """
    assert 1 <= lam_pct <= 100 and k >= 1
    scale = VEC_QUANT
    q = [int(x * scale + 0.5) if x >= 0 else -int(-x * scale + 0.5)
         for x in query_vec]
    qarr = int_array_lit(q)
    v = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("long"),
    )
    base = stage_barrier(
        df.select(F.col(id_col), v.alias("__v")), name="mmr-candidates"
    )

    def dot(a, b) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, d: acc + d,
        )

    rel = base.withColumn("__rel", dot(F.col("__v"), qarr))
    chosen: list[tuple] = []
    chosen_vecs: list[list[int]] = []
    for _ in range(k):
        if chosen_vecs:
            sims = [
                dot(F.col("__v"), int_array_lit(s)) for s in chosen_vecs
            ]
            max_sim = F.greatest(*sims) if len(sims) > 1 else sims[0]
        else:
            max_sim = F.lit(0).cast("long")
        key = (
            F.lit(int(lam_pct)) * F.col("__rel")
            - F.lit(int(100 - lam_pct)) * max_sim
        )
        cand = (
            rel.where(~F.col(id_col).isin([c[0] for c in chosen]))
            if chosen
            else rel
        )
        row = (
            cand.withColumn("__key", key.cast("long"))
            .orderBy(F.desc("__key"), F.asc(id_col))
            .limit(1)
            .collect()
        )
        if not row:
            break
        r = row[0]
        chosen.append((r[id_col], int(r["__rel"]), int(r["__key"])))
        chosen_vecs.append([int(x) for x in r["__v"]])
    return chosen


def jl_sign_matrix(in_dim: int, out_dim: int) -> list[list[int]]:
    """Deterministic ±1 Achlioptas/JL sign matrix from md5 parity —
    engine-independent (computed once driver-side, embedded as plan
    literals in Spark and as array literals in the SQL oracle)."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"jl:{i}:{j}".encode()).hexdigest()[0], 16) % 2
            == 0
            else -1
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def jl_project(
    df: DataFrame,
    signs: list[list[int]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection with a ±1 sign matrix
    (Achlioptas 2003): reduce ``in_dim`` float vectors to ``out_dim``
    integer components ``p_j = Σ_i sign_ij · q_i`` (inputs quantized
    ``floor(x·VEC_QUANT + 0.5)``) — distances are preserved within
    (1 ± ε) at out_dim = O(log n / ε²), so downstream LSH / clustering /
    dedup blocking runs on 8 ints instead of 64 floats.

    Scale shape: the sign matrix rides as constant-folded literals; the
    projection is a per-row fold — ZERO shuffles, the vectors never leave
    their scan partitions.  Output columns ``p0..p{k-1}`` (scalar ints,
    oracle-hashable).
    """
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * VEC_QUANT + F.lit(0.5)).cast("long"),
    )
    cols = [F.col(id_col)]
    for j, row in enumerate(signs):
        sarr = int_array_lit(row)
        cols.append(
            F.aggregate(
                F.zip_with(q, sarr, lambda x, s: x * s),
                F.lit(0).cast("long"),
                lambda acc, d: acc + d,
            ).alias(f"p{j}")
        )
    return df.select(*cols)


def _referee_topk(
    df: DataFrame,
    pairs: DataFrame,
    w,
    scorer,
    k: int,
    query_mod: int,
    id_col: str,
    content_col: str | None,
) -> DataFrame:
    """The injected-scorer voting neighborhood for :func:`knn_label_eval`:
    integer-dot recall pool (``3·k``) → Arrow-batched scorer
    referee → top ``k`` by ``ce_score`` (ties on id). The pool is bounded
    (queries × pool), so content fetches are broadcast joins against the
    corpus scan and the scorer sees pool-sized batches only. The pool is
    stage-pinned before fan-out: it is consumed twice (broadcast into the
    candidate fetch AND the final join) and its subplan is the corpus-wide
    dot-product window — without the pin that subplan would run twice
    (ADVICE r7)."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import Window

    assert content_col is not None, "scorer referee needs content_col"
    pool = stage_barrier(
        pairs.withColumn("__rn", F.row_number().over(w)).where(
            F.col("__rn") <= k * 3
        ),
        name="referee_pool",
    )
    qtext = df.where(F.col(id_col) % query_mod == 0).select(
        F.col(id_col).alias("__qid"), F.col(content_col).alias("__qtext")
    )
    cand = (
        df.select(F.col(id_col), F.col(content_col).alias("__ctext"))
        .join(F.broadcast(pool.select("__qid", id_col)), id_col)
        .join(F.broadcast(qtext), "__qid")
    )
    schema = "__qid long, __cid long, ce_score double"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for i in range(0, len(pdf), SCORER_BATCH_ROWS):
                chunk = pdf.iloc[i : i + SCORER_BATCH_ROWS]
                scores = scorer(
                    chunk["__qtext"].tolist(), chunk["__ctext"].tolist()
                )
                yield pd.DataFrame(
                    {
                        "__qid": chunk["__qid"].values,
                        "__cid": chunk[id_col].values,
                        "ce_score": [float(s) for s in scores],
                    }
                )

    scored = cand.select("__qid", id_col, "__qtext", "__ctext").mapInPandas(
        run, schema
    )
    w2 = Window.partitionBy("__qid").orderBy(
        F.desc("ce_score"), F.asc("__cid")
    )
    keep = (
        scored.withColumn("__rn2", F.row_number().over(w2))
        .where(F.col("__rn2") <= k)
        .select("__qid", F.col("__cid").alias(id_col))
    )
    return pool.join(keep, ["__qid", id_col])


def knn_label_eval(
    df: DataFrame,
    k: int = 10,
    query_mod: int = 23,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    scorer=None,
    content_col: str | None = None,
) -> DataFrame:
    """Embedding-space quality eval: leave-one-out k-NN label consistency
    on a deterministic query sample (``id % query_mod == 0``) — the
    standard check that an embedding column actually clusters by label
    before it is trusted for semantic dedup / ANN retrieval / hard-negative
    mining. Returns per-label ``(n_queries, n_correct, acc_ppm)``.

    Exactness: vectors quantize once to integers
    (``floor(x·VEC_QUANT + 0.5)``), dots are integer, neighbor ranking
    tie-breaks on id, majority vote tie-breaks on the smaller label — every
    step engine-deterministic.

    With an injected ``scorer`` (VERDICT r6 item 6: the
    ``rerank_with_scorer``-shaped callable ``(list[str], list[str]) ->
    list[float]`` — production passes a cross-encoder's ``predict``), the
    vote runs over a refereed neighborhood: the integer-dot recall pool
    (``3·k`` candidates) is re-scored on
    ``(query content, candidate content)`` pairs in an Arrow-batched
    ``mapInPandas`` seam and the top ``k`` by ``ce_score`` (ties on id)
    vote — the recall→precision stack of a retrieval pipeline, refereeing
    label consistency instead of relevance. Requires ``content_col``.

    Scale shape: the query sample is bounded (``n/query_mod`` rows) and
    broadcasts against the corpus scan — the corpus never shuffles for the
    pair generation; per-query ranking is a window keyed by query id
    (1/query_mod of the pair stream). The scorer path adds one broadcast
    semi-join of the bounded pool against the corpus scan (to fetch
    candidate content) and scores pool-sized batches only. For corpus-side
    fan-out beyond brute-force, feed candidates from
    ``ivf_topk``/``int8_weighted_topk`` instead — the voting tail is
    identical.
    """
    from pyspark.sql import Window

    q = F.transform(F.col(vec_col), lambda x: (
        F.floor(x.cast("double") * VEC_QUANT + F.lit(0.5)).cast("long")
    ))
    base = df.select(
        F.col(id_col), F.col(label_col), q.alias("__q")
    )
    queries = base.where(F.col(id_col) % query_mod == 0).select(
        F.col(id_col).alias("__qid"),
        F.col(label_col).alias("__qlabel"),
        F.col("__q").alias("__qv"),
    )
    pairs = base.join(
        F.broadcast(queries), F.col(id_col) != F.col("__qid")
    ).select(
        "__qid",
        "__qlabel",
        F.col(label_col),
        F.col(id_col),
        F.aggregate(
            F.zip_with(F.col("__q"), F.col("__qv"), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("__dot"),
    )
    w = Window.partitionBy("__qid").orderBy(
        F.col("__dot").desc(), F.col(id_col)
    )
    if scorer is None:
        topk = pairs.withColumn("__rn", F.row_number().over(w)).where(
            F.col("__rn") <= k
        )
    else:
        topk = _referee_topk(
            df, pairs, w, scorer, k, query_mod, id_col, content_col
        )
    votes = topk.groupBy("__qid", "__qlabel", label_col).agg(
        F.count("*").alias("__c")
    )
    pred = votes.groupBy("__qid", "__qlabel").agg(
        F.min(
            F.struct(
                (-F.col("__c")).alias("nc"), F.col(label_col).alias("l")
            )
        )["l"].alias("__pred")
    )
    return (
        pred.groupBy(F.col("__qlabel").alias(label_col))
        .agg(
            F.count("*").cast("long").alias("n_queries"),
            F.sum(
                F.when(F.col("__pred") == F.col("__qlabel"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
        )
        .withColumn(
            "acc_ppm",
            F.expr("(n_correct * 1000000) div n_queries").cast("long"),
        )
    )


def _trunc_div(s: int, n: int) -> int:
    """Truncate-toward-zero integer division — the semantics Spark's
    ``div`` and DuckDB's ``//`` share (Python's ``//`` floors, which
    differs on negative numerators)."""
    q = abs(s) // n
    return -q if s < 0 else q


def kmeans_lloyd_int(
    df: DataFrame,
    k: int = 8,
    iterations: int = 2,
    vec_col: str = "qe",
    id_col: str = "vec_id",
    out_col: str = "cid",
    init_centroids: list[list[int]] | None = None,
) -> tuple[DataFrame, list[list[int]]]:
    """Lloyd's k-means over an INTEGER-quantized vector column, fully
    engine-deterministic: seeds = the ``k`` lowest-id vectors, assignment
    = exact integer squared-L2 argmin (ties → lower centroid index),
    update = per-dimension ``sum div count`` (truncate-toward-zero — the
    shared Spark ``div`` / DuckDB ``//`` semantics), empty clusters keep
    their previous centroid. Returns ``(assigned, centroids)`` where
    ``assigned`` carries ``out_col`` and the exact integer squared
    distance ``d2`` to the winning centroid after the FINAL update.

    The corpus-side topic/balance clustering primitive (SemDeDup-style
    pruning, cluster-balanced sampling) next to the one-shot
    :func:`ivf_assign` quantizer.

    ``init_centroids`` overrides the lowest-id seeding — pass
    :func:`train_ivf_centroids` output (k-means||, quality seeds for
    production) cast to ints; the oracle-gated queries keep the
    default because lowest-id seeds are SQL-reproducible.

    Scale shape (100 TB): centroids are index METADATA (k·dim longs) and
    ride driver-side exactly like :func:`ivf_topk`'s coarse quantizer —
    each Lloyd step is one corpus scan with a map-side-combining
    ``groupBy(cid, dim)`` aggregate whose result is k·dim rows; vectors
    never shuffle and never pair. The caller should stage-barrier-pin
    ``df`` — every iteration re-reads it, and a lazily composed upstream
    (a Python encode stage, say) would re-run per iteration.
    """
    assert k >= 1 and iterations >= 0
    if init_centroids is not None:
        assert len(init_centroids) == k
        cents: list[list[int]] = [
            [int(x) for x in c] for c in init_centroids
        ]
    else:
        seed_rows = (
            df.select(id_col, vec_col)
            .orderBy(F.col(id_col))
            .limit(k)
            .collect()
        )
        # The oracle-gated queries pair this seeding with SQL of the form
        # ``WHERE vec_id < k`` / ``cid = seed vec_id`` — valid ONLY when
        # ids run contiguously from 0. Fail loudly instead of silently
        # diverging on a gapped/offset id space; non-contiguous callers
        # pass ``init_centroids=`` (e.g. train_ivf_centroids output).
        seed_ids = [int(r[id_col]) for r in seed_rows]
        if seed_ids != list(range(len(seed_ids))):
            raise ValueError(
                "kmeans_lloyd_int default seeding requires ids contiguous "
                f"from 0 (got lowest {k}: {seed_ids[:8]}...); pass "
                "init_centroids= for gapped or offset id spaces"
            )
        cents = [[int(x) for x in r[vec_col]] for r in seed_rows]
    for _ in range(iterations):
        assigned = ivf_assign(df, cents, vec_col=vec_col, out_col=out_col)
        stats = (
            assigned.select(
                out_col, F.posexplode(F.col(vec_col)).alias("pos", "x")
            )
            .groupBy(out_col, "pos")
            .agg(
                F.sum(F.col("x").cast("long")).alias("s"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        by_cid: dict[int, dict[int, tuple[int, int]]] = {}
        for r in stats:
            by_cid.setdefault(int(r[out_col]), {})[int(r["pos"])] = (
                int(r["s"]),
                int(r["n"]),
            )
        cents = [
            [
                _trunc_div(*by_cid[i][p])
                for p in range(len(cents[i]))
            ]
            if i in by_cid
            else cents[i]
            for i in range(k)
        ]
    assigned = ivf_assign(df, cents, vec_col=vec_col, out_col=out_col)
    # long_matrix_lit folds the k×dim matrix into ONE plan node at every k
    chosen = F.element_at(
        long_matrix_lit(cents), (F.col(out_col) + 1).cast("int")
    )
    d2 = F.aggregate(
        F.zip_with(
            F.transform(F.col(vec_col), lambda x: x.cast("long")),
            chosen,
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return assigned.withColumn("d2", d2), cents


# |v|_inf of the power-iteration component and the divisor of its
# projections, as a power of two
PROJ_SCALE_BITS = 10


def top_component_projection(
    df: DataFrame,
    iterations: int = 2,
    vec_col: str = "qe",
    id_col: str = "vec_id",
) -> tuple[DataFrame, list[int], list[int]]:
    """Per-vector projection onto the corpus's dominant direction — the
    distributed core of all-but-the-top embedding post-processing
    (Mu & Viswanath 2018: isotropic embeddings retrieve better once the
    common direction is removed) and the corpus-anisotropy audit that
    decides whether to apply it.

    Engine-deterministic power iteration over INTEGER-quantized vectors:

    - mean = per-dim ``sum div n`` (truncate-toward-zero — Spark ``div``
      ≡ DuckDB ``//``), centered vectors pinned by the caller;
    - start vector = the lowest-id centered row (data-derived and
      deterministic; an all-zero start raises);
    - each iteration computes ``d_i = c_i · v`` per row, downshifts it by
      ``div 2^16`` (the int64 headroom: it holds while
      ``log2(n · max|c|² · 2^10) − 16 < 63``), aggregates
      ``w_p = Σ c_ip · d'_i`` per dimension (dim rows of metadata), and
      rescales to ``|v|_∞ = 2^PROJ_SCALE_BITS`` by truncating integer
      division — no norms, no sqrt, no floats anywhere;
    - returns ``(projections, component, mu)`` where projections =
      ``(id_col, proj_q = (c·v) div 2^PROJ_SCALE_BITS)`` in centered
      quantized units.

    Scale shape (100 TB): the component and mean are dim-length driver
    metadata (the ANN-centroid budget class); each iteration is ONE scan
    of the pinned centered frame + a map-side-combining per-dim aggregate;
    vectors never pair and never shuffle (the per-dim aggregate exchanges
    dim rows). The headroom bound above caps n.
    """
    scale = 1 << PROJ_SCALE_BITS
    shift = 1 << 16

    sums = (
        df.select(F.posexplode(F.col(vec_col)).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.sum(F.col("x").cast("long")).alias("s"), F.count("*").alias("n"))
        .collect()
    )
    dim = len(sums)
    mu = [0] * dim
    for r in sums:
        mu[int(r["pos"])] = _trunc_div(int(r["s"]), int(r["n"]))
    # single-node literals (r12, guide §1.2): dim-length F.array(*[F.lit..])
    # trees cost one py4j call per element at build and a per-element
    # analyzer walk per plan — this loop builds one per power iteration
    mu_arr = int_array_lit(mu)

    cent = stage_barrier(
        df.select(
            F.col(id_col),
            F.zip_with(
                F.transform(F.col(vec_col), lambda x: x.cast("long")),
                mu_arr,
                lambda x, m: x - m,
            ).alias("__c"),
        ),
        name="abtt_centered",
    )
    first = cent.orderBy(F.col(id_col)).limit(1).collect()[0]["__c"]
    v = [int(x) for x in first]
    if not any(v):
        raise ValueError(
            "top_component_projection: the lowest-id centered vector is "
            "zero — pick a different start row or de-duplicate first"
        )

    for _ in range(iterations):
        v_arr = int_array_lit(v)
        dot = F.aggregate(
            F.zip_with("__c", v_arr, lambda c, vv: c * vv),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        )
        w_rows = (
            cent.select(dot.alias("__d"), F.posexplode("__c").alias("pos", "c"))
            .select("pos", (F.col("c") * F.expr(f"__d div {shift}")).alias("t"))
            .groupBy("pos")
            .agg(F.sum("t").alias("w"))
            .collect()
        )
        w = [0] * dim
        for r in w_rows:
            w[int(r["pos"])] = int(r["w"])
        m = max(abs(x) for x in w)
        if m == 0:
            raise ValueError(
                "top_component_projection: power iteration collapsed to "
                "zero — check the data"
            )
        v = [_trunc_div(x * scale, m) for x in w]

    v_arr = int_array_lit(v)
    final_dot = F.aggregate(
        F.zip_with("__c", v_arr, lambda c, vv: c * vv),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    proj = (
        cent.withColumn("__fd", final_dot)
        .select(F.col(id_col), F.expr(f"__fd div {scale}").alias("proj_q"))
    )
    return proj, v, mu
