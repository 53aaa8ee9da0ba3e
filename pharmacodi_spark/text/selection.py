"""Targeted data selection (north star: choosing WHICH documents to train
on, not just cleaning them).

DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
arXiv:2302.03169) — scores every raw document by how target-like it is
under two hashed bag-of-words language models:

    log w(doc) = Σ_tokens  log p̂_target(bucket(tok)) − log p̂_raw(bucket(tok))

with add-one smoothing over ``dim`` hash buckets.  Documents with the
highest importance weight are the ones whose token distribution looks most
like the target domain (here: a predicate over the corpus, e.g.
``lang = 'en'`` or a curated seed set).

Cross-engine exactness: the log-ratio is computed in fixed-point integer
arithmetic (``retrieval.ilog2_fp`` — ``length(bin(x))-1`` exponent plus a
shifted linear mantissa), so Spark, DuckDB, and the driver-side trainer
agree bit-for-bit.  All four ilog2 inputs (``ct+1``, ``Tt+dim``, ``cr+1``,
``Tr+dim``) are ≥ 1 by construction.

Scale shape (100 TB):
 - TRAIN: the token stream collapses map-side to per-bucket counts — the
   only shuffle is keyed by ``bucket`` and the result is ≤ ``dim`` rows
   (index metadata, like ANN centroids).  The λ vector is a few KB and
   ships back to executors as ONE array literal.
 - SCORE: zero shuffles — tokens stay in their arrays and the importance
   weight is a native ``aggregate`` fold with ``element_at`` into the
   broadcast λ literal (same seam as ``analysis.hashed_linear_score``);
   the corpus never leaves its scan partitions.
 - SELECT: ``TakeOrderedAndProject`` per-partition heaps for top-k — no
   global sort.  (True importance RESAMPLING — Gumbel-top-k on the same
   weights — rides ``operators/sampling.py``'s md5-draw machinery; the
   deterministic top-k here is the oracle-exact gate.)

No reference counterpart (the reference has no data-selection stage);
cited method is public literature.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pharmacodi_spark.functions.scalar import int_array_lit
from pharmacodi_spark.text.retrieval import FP_BITS, ilog2_fp


def _bucket_of(tok: Column | str, dim: int, salt: str) -> Column:
    """Hashing-trick feature index: md5(salt‖token) → 60-bit int → mod dim
    (same family as analysis.hashed_linear_score, so buckets are
    oracle-expressible: DuckDB ``('0x'||substr(md5(..),1,15))::BIGINT``)."""
    t = F.col(tok) if isinstance(tok, str) else tok
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), t)), 1, 15), 16, 10
    ).cast("long") % dim


def ilog2_fp_int(x: int, frac_bits: int = FP_BITS) -> int:
    """Driver-side integer twin of ``retrieval.ilog2_fp`` (bit-identical:
    same exponent/mantissa split, same shift-first overflow guard)."""
    assert x >= 1
    e = x.bit_length() - 1
    m = x - (1 << e)
    frac = (m << (frac_bits - e)) if e <= frac_bits else (m >> (e - frac_bits))
    return (e << frac_bits) + frac


def dsir_train_weights(
    df: DataFrame,
    target: Column,
    dim: int = 1024,
    salt: str = "d",
    content_col: str = "text",
) -> list[int]:
    """Fit the DSIR importance log-ratio vector λ from the corpus itself.

    ``target`` is a boolean Column marking the target-domain rows (the
    "high quality seed" — a language, a source allowlist, a curated id
    set).  Returns ``λ[b] = il(ct_b+1) − il(Tt+dim) − il(cr_b+1) +
    il(Tr+dim)`` for every bucket, fixed-point with ``FP_BITS``
    fractional bits; unseen buckets get the smoothing-only value.

    The collect is bounded: ≤ ``dim`` rows of three longs (same budget
    class as ANN centroid matrices)."""
    assert dim >= 1
    # token explode + md5 bucketing is the CPU term; spread a single-split
    # scan before it (no-op at corpus scale — see dedup.repeated_spans)
    par = df.sparkSession.sparkContext.defaultParallelism
    base = df.select(target.alias("is_t"), F.col(content_col))
    if base.rdd.getNumPartitions() < par:
        base = base.repartition(par)
    toks = base.select(
        "is_t",
        F.explode(
            F.filter(F.split(F.col(content_col), " "), lambda x: x != "")
        ).alias("tok"),
    )
    counts = (
        toks.select(_bucket_of("tok", dim, salt).alias("bucket"), "is_t")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("cr"),
            F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("ct"),
        )
        .collect()
    )
    t_raw = sum(r["cr"] for r in counts) + dim
    t_tgt = sum(r["ct"] for r in counts) + dim
    il = ilog2_fp_int
    base = il(t_raw) - il(t_tgt)  # λ of a bucket nothing hashed into
    lam = [base] * dim
    for r in counts:
        lam[r["bucket"]] = base + il(r["ct"] + 1) - il(r["cr"] + 1)
    return lam


def dsir_score(
    df: DataFrame,
    weights: list[int],
    dim: int = 1024,
    salt: str = "d",
    content_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document DSIR importance log-weight: a zero-shuffle native fold
    of λ over the token array (``element_at`` into the broadcast literal).
    Output: ``(id_col, *keep_cols, n_tokens, dsir_fp)``; empty docs score
    0. ``keep_cols`` rides extra columns through the projection (e.g. the
    source/host key a downstream prior joins on) — a free select, where
    re-attaching them afterwards would cost a corpus-scale id-keyed
    join."""
    assert len(weights) == dim
    toks = F.filter(F.split(F.col(content_col), " "), lambda x: x != "")
    # single-node λ literal — F.lit(list) is a dim-child CreateArray that
    # every optimizer rule re-walks per plan build (r12, guide §1.2)
    warr = int_array_lit(weights)
    score = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + F.element_at(warr, (_bucket_of(t, dim, salt) + 1).cast("int")),
    )
    return df.select(F.col(id_col), *keep_cols, F.col(content_col)).select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.size(toks).cast("long").alias("n_tokens"),
        score.cast("long").alias("dsir_fp"),
    )


def dsir_topk(
    df: DataFrame,
    target: Column,
    k: int = 50,
    dim: int = 1024,
    salt: str = "d",
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train-then-select in one call: fit λ on the corpus, score every
    document, keep the k most target-like (ties → lower id; deterministic
    in every engine)."""
    lam = dsir_train_weights(
        df, target, dim=dim, salt=salt, content_col=content_col
    )
    scored = dsir_score(
        df, lam, dim=dim, salt=salt, content_col=content_col, id_col=id_col
    )
    return scored.orderBy(F.desc("dsir_fp"), F.asc(id_col)).limit(k)


def percentile_gate(
    df: DataFrame,
    score_col: str,
    keep_pct: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the documents whose integer score falls in the global top
    ``keep_pct`` percent — the "threshold at the P-th percentile" gate
    under quality-classifier filtering (DCLM/fasttext pipelines keep the
    top-p% by classifier score, not score > const).

    EXACT at scale without a global sort: integer scores collapse to a
    score histogram (one shuffle keyed by ``score_col``, output rows =
    distinct scores « corpus), the cumulative count from the top finds the
    threshold on that metadata-scale table, and the threshold broadcasts
    back as a 1-row join.  Tie policy: every doc at the threshold score is
    kept (so ≥ ⌊N·p/100⌋ rows survive — deterministic, no row_number
    lottery).  Fully lazy — the quota ⌊N·p/100⌋ is derived in-plan from
    the histogram itself, no driver-side count.  ``keep_pct`` small enough
    that ⌊N·p/100⌋ = 0 keeps nothing (floor semantics, like DCLM's
    top-p%).
    """
    assert 0 <= keep_pct <= 100
    hist = df.groupBy(score_col).agg(F.count("*").alias("n"))
    # histogram is metadata-scale; the windows run over distinct scores,
    # not the corpus (same budget class as the barrier id-sets). n_total
    # is the unbounded frame over the SAME ordering — one Window node,
    # no second corpus scan, no cross-join.
    from pyspark.sql import Window

    order = Window.orderBy(F.desc(score_col))
    cum = hist.select(
        F.col(score_col),
        F.col("n"),
        F.sum("n")
        .over(order.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("n")
        .over(
            order.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n_total"),
    )
    thr = cum.where(
        (F.col("cum") - F.col("n"))
        < F.expr(f"(n_total * {int(keep_pct)}) div 100")
    ).agg(F.min(score_col).alias("thr"))
    return df.join(F.broadcast(thr), F.col(score_col) >= F.col("thr"), "inner").drop(
        "thr"
    )


def prototypicality(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Prototypicality scoring for embedding-space data pruning (Sorscher
    et al. 2022, "Beyond neural scaling laws"): distance of every example
    from its group centroid — far-from-centroid examples are the hard /
    outlier candidates (keep under data pruning), near-centroid ones the
    prototypical redundant mass (drop first at high pruning rates).

    EXACT cross-engine math: vectors quantize to integers
    (``floor(x·VEC_QUANT + 0.5)``) and the centroid never materializes as a
    ratio — the score is ``‖n·q − S‖²`` (n = group size, S = group
    integer sum), an all-integer expansion of n²·‖q − S/n‖², monotone in
    the true distance within each group.

    Scale shape (100 TB): the per-group sums are (groups × dim) integers —
    index metadata, like ANN centroids — collected once and shipped back
    as ONE map literal; scoring is then a ZERO-shuffle native fold (the
    embeddings never leave their scan partitions).  Int64 bound:
    ``dim·(n·VEC_QUANT)²`` — safe past 10⁸ rows per group at dim≤64.
    """
    from pharmacodi_spark.text.similarity import VEC_QUANT

    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * VEC_QUANT + F.lit(0.5)).cast("long"),
    )
    sums = (
        df.select(F.col(group_col), F.posexplode(q).alias("pos", "qv"))
        .groupBy(group_col, "pos")
        .agg(F.sum("qv").alias("s"), F.count("*").alias("n"))
        .collect()
    )
    by_group: dict = {}
    for r in sums:
        g = by_group.setdefault(r[group_col], {"n": r["n"], "s": {}})
        g["s"][r["pos"]] = r["s"]
    smap = F.create_map(
        *[
            c
            for g, v in sorted(by_group.items())
            for c in (
                F.lit(g),
                F.array(
                    *[F.lit(int(v["s"][p])) for p in range(len(v["s"]))]
                ),
            )
        ]
    )
    nmap = F.create_map(
        *[
            c
            for g, v in sorted(by_group.items())
            for c in (F.lit(g), F.lit(int(v["n"])))
        ]
    )
    n = F.element_at(nmap, F.col(group_col))
    s_arr = F.element_at(smap, F.col(group_col))
    dist2 = F.aggregate(
        F.zip_with(q, s_arr, lambda x, s: (n * x - s) * (n * x - s)),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
    )
    return df.select(
        F.col(group_col),
        F.col(id_col),
        dist2.cast("long").alias("dist2_scaled"),
    )


def selection_pipeline(
    df: DataFrame,
    target: Column,
    score_col: str = "n_chars",
    keep_pct: int = 70,
    k: int = 200,
    dim: int = 1024,
    salt: str = "d",
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Two-stage targeted-selection E2E: the exact global percentile gate
    (drop the bottom ``100−keep_pct``% by ``score_col``) feeding DSIR
    importance selection TRAINED ON THE SURVIVORS — the realistic order
    (quality-gate first so junk doesn't pollute the raw-distribution side
    of the importance ratio), ending in the k most target-like documents.

    Stage boundary discipline (the round-5 lesson): DSIR consumes the
    survivor set TWICE (λ training pass + scoring pass), so the gate's
    survivor-id set is pinned with :func:`pharmacodi_spark.barrier.
    stage_barrier` (durable under ``spark.pharmacodi.barrierDir``) and
    both passes broadcast-join a fresh pruned scan against it — lazily
    composing would re-expand the histogram-threshold subplan per pass.

    Output: ``(id_col, n_tokens, dsir_fp)`` for the k selected docs.
    """
    from pharmacodi_spark.barrier import stage_barrier

    gated = percentile_gate(
        df.select(F.col(id_col), F.col(score_col)), score_col, keep_pct,
        id_col=id_col,
    )
    ids = stage_barrier(gated.select(id_col), name="selection-gate")
    # no broadcast hint: the survivor set is keep_pct% of the corpus —
    # metadata-scale locally but potentially billions of ids at 100 TB;
    # AQE picks broadcast when it fits (the curation-cascade discipline)
    surv = df.join(ids, id_col, "inner")
    lam = dsir_train_weights(
        surv, target, dim=dim, salt=salt, content_col=content_col
    )
    scored = dsir_score(
        surv, lam, dim=dim, salt=salt, content_col=content_col, id_col=id_col
    )
    return scored.orderBy(F.desc("dsir_fp"), F.asc(id_col)).limit(k)


def token_budget_report(
    df: DataFrame,
    group_col: str = "source",
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The training-run planning table: for every origin, how many tokens
    it REALLY contributes after dedup and temperature mixing — raw size,
    deduped size, duplicate loss, the α=0.5 temperature sampling rate, and
    the expected token contribution.  This is the sheet a data lead reads
    before committing a mixture (a source whose raw share is 30% but whose
    expected share is 4% is being paid for storage, not training signal).

    Per group: ``raw_docs``, ``raw_tokens``, ``kept_tokens`` (exact-dedup
    min-id keeper, duplicate tokens attributed to the dropping origin),
    ``dup_ppm``, ``rate`` = ``min(1, 0.5·√T/√t_s)`` over KEPT
    tokens (sqrt/mult/div only — correctly-rounded IEEE, bit-identical
    across engines; the token-weighted ``temperature_mixture_sample``
    law), and ``expected_tokens`` = ``floor(rate·t_s)``.

    Scale shape: ONE pass over the corpus — the keeper window and the
    token count ride the same (group, id, 32-byte hash, int) projection,
    one shuffle keyed by the content hash, one aggregate keyed by the
    domain-cardinality group; the corpus total is an integer window-sum
    over the #groups rows (bounded metadata).  Bodies never shuffle.
    """
    from pyspark.sql import Window

    toks = F.filter(F.split(F.col(content_col), " "), lambda x: x != "")
    slim = df.select(
        F.col(group_col),
        F.col(id_col),
        F.size(toks).cast("long").alias("__nt"),
        F.md5(F.col(content_col)).alias("__k"),
    )
    w = Window.partitionBy("__k").orderBy(F.col(id_col))
    flagged = slim.withColumn("__keep", F.row_number().over(w) == 1)
    per = flagged.groupBy(group_col).agg(
        F.count("*").cast("long").alias("raw_docs"),
        F.sum("__nt").cast("long").alias("raw_tokens"),
        F.sum(F.when(F.col("__keep"), F.col("__nt")).otherwise(0))
        .cast("long")
        .alias("kept_tokens"),
    )
    total = F.sum("kept_tokens").over(Window.partitionBy()).cast("double")
    rate = F.least(
        F.lit(1.0),
        F.lit(0.5)
        * F.sqrt(total)
        / F.sqrt(F.col("kept_tokens").cast("double")),
    )
    return per.select(
        group_col,
        "raw_docs",
        "raw_tokens",
        "kept_tokens",
        # greatest() guard: a source of only empty docs has 0 raw tokens —
        # Spark's div would NULL but DuckDB's // errors, so never divide by 0
        F.expr("((raw_tokens - kept_tokens) * 1000000) div greatest(raw_tokens, 1)")
        .cast("long")
        .alias("dup_ppm"),
        rate.alias("rate"),
        F.floor(rate * F.col("kept_tokens").cast("double"))
        .cast("long")
        .alias("expected_tokens"),
    )


def gumbel_topk_resample(
    scored: DataFrame,
    k: int,
    score_col: str = "dsir_fp",
    salt: str = "g",
    id_col: str = "doc_id",
) -> DataFrame:
    """Importance RESAMPLING via the Gumbel-max trick, all-integer: draw k
    documents without replacement with probability ∝ w (the softmax of the
    fixed-point log2-score), by taking the top-k of

        key = score_fp + G₂_fp,   G₂ = −log₂(−log₂ u)

    — the base-2 Gumbel race.  Base-2 is EXACTLY proportional sampling:
    ``log₂w + G/ln2 = (ln w + G)/ln 2`` is a monotone transform of the
    standard Gumbel key, so the argmax distribution is unchanged; using
    ``ilog2_fp`` (linear-mantissa, < 0.087-bit error) makes the race
    deterministic and bit-identical across engines at the cost of that
    quantization bias (documented; production can swap in libm log for
    statistical exactness at the cost of oracle parity).

    ``u`` is the md5 draw of ``salt‖id`` — a 60-bit integer, so both logs
    run in pure integer fixed point: ``a = (60≪s) − il(u+1)`` (≈ −log₂u′
    in fp units, clamped ≥ 1) and ``G₂_fp = (s≪s)... = (10≪10) − il(a)``.

    This is the "R" in DSIR — the paper resamples rather than truncating
    at a threshold; :func:`dsir_topk` is the deterministic-gate sibling.
    Scale shape: per-row hashing + fold, then ``TakeOrderedAndProject``
    heaps — zero shuffles.
    """
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        + 1
    )
    # the fixed-point layout is tuned for FP_BITS == 10
    a = F.greatest(F.lit(60 << FP_BITS) - ilog2_fp(u), F.lit(1))
    g2 = F.lit(10 << FP_BITS) - ilog2_fp(a)
    return (
        scored.withColumn(
            "gumbel_key", (F.col(score_col) + g2).cast("long")
        )
        .orderBy(F.desc("gumbel_key"), F.asc(id_col))
        .limit(k)
    )


def unimax_allocation(
    df: DataFrame,
    budget_tokens: int,
    max_epochs: int = 4,
    group_col: str = "source",
    content_col: str = "text",
) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023, arXiv:2304.09151): split
    a total training-token budget across origins as UNIFORMLY as possible,
    capping every origin at ``max_epochs`` passes over its data — the
    mixture law PaLM-2/mT5-style multilingual runs use instead of
    temperature sampling (no head language starves the tail, no tail
    language over-epochs into memorization).

    Exact integer water-filling: with per-origin caps ``cap_s = n_s·E``
    sorted ascending, the waterline ``W`` is the largest integer with
    ``Σ min(cap_s, W) ≤ B``: find the longest feasible prefix i* (every
    origin in it fully capped), then ``W = (B − P_{i*}) div (m − i*)``.
    Per origin: ``n_tokens``, ``cap``, ``alloc = min(cap, W)``, and
    ``epochs_ppm = alloc·10⁶ div n_tokens``.  ``Σ alloc ≤ B`` always;
    if ``B ≥ Σ cap`` every origin allocates its cap and the remainder is
    reported by the caller's sum.

    Scale shape: ONE fact-scale aggregate (per-origin token counts,
    map-side collapse); every window after runs on the #origins rows —
    pure metadata, the percentile_gate/mixture_sample precedent.
    """
    from pyspark.sql import Window

    assert budget_tokens >= 0 and max_epochs >= 1
    toks = F.filter(F.split(F.col(content_col), " "), lambda x: x != "")
    counts = (
        df.select(F.col(group_col), F.size(toks).cast("long").alias("__nt"))
        .groupBy(group_col)
        .agg(F.sum("__nt").cast("long").alias("n_tokens"))
        .withColumn(
            "cap", (F.col("n_tokens") * F.lit(int(max_epochs))).cast("long")
        )
    )
    w = Window.orderBy("cap", group_col)  # deterministic tie-break
    m = F.count("*").over(Window.partitionBy())
    idx = F.row_number().over(w)
    pfx = F.sum("cap").over(w.rowsBetween(Window.unboundedPreceding, 0))
    b = int(budget_tokens)
    ranked = counts.select(
        group_col,
        "n_tokens",
        "cap",
        idx.alias("__i"),
        pfx.alias("__p"),
        m.alias("__m"),
        # feasible ⇔ waterline can sit at or above this cap; monotone in i
        (
            (pfx - F.col("cap"))
            + (m - idx + 1) * F.col("cap")
            <= F.lit(b)
        ).alias("__ok"),
    )
    agg = ranked.agg(
        F.sum(F.col("__ok").cast("int")).alias("__istar"),
        F.max(F.when(F.col("__ok"), F.col("__p")).otherwise(0)).alias("__pistar"),
        F.max("__m").alias("__mm"),
    )
    alloc = F.when(
        F.col("__istar") >= F.col("__mm"), F.col("cap")
    ).otherwise(
        F.least(
            F.col("cap"),
            F.expr(f"({b} - __pistar) div (__mm - __istar)").cast("long"),
        )
    )
    return (
        ranked.crossJoin(F.broadcast(agg))
        .select(group_col, "n_tokens", "cap", alloc.cast("long").alias("alloc"))
        # double division would drift past 2^53 — stay on integer `div`
        .withColumn(
            "epochs_ppm",
            F.expr("(alloc * 1000000) div greatest(n_tokens, 1)").cast("long"),
        )
    )
