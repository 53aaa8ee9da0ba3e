"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
"Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
algorithm): select, from every window of ``w`` consecutive k-gram hashes,
the rightmost minimal hash. The selected (position, hash) set is a
LOCAL fingerprint: any shared substring of at least ``w + k - 1`` tokens
between two documents is GUARANTEED to contribute at least one common
fingerprint, while the expected density is only ``2/(w+1)`` of the k-gram
stream — a tunable, provable recall/size trade the simple
``hash % p == 0`` sampler can't give.

This complements the corpus's other near-dup families:

- MinHash/LSH (``dedup.minhash_near_dup_pairs``) estimates WHOLE-document
  Jaccard — it misses a plagiarized paragraph inside an otherwise
  unrelated document;
- ExactSubstr (``dedup.repeated_spans``) finds spans ≥ ``min_len`` at
  stride-1 cost (~24 B/token working set);
- winnowing sits between: positional robustness at ``2/(w+1)`` the cost,
  and per-pair SHARED-FINGERPRINT counts (containment evidence), not just
  a candidate bit.

Scale shape (100 TB): one repartition-guarded scan tokenizes and hashes
(one md5 per k-gram, evaluated once — tokens materialized as a column
first, the r5 lambda-re-evaluation lesson); the window-min selection runs
ENTIRELY inside the per-doc hash array (``min(struct(h, -pos))`` over
``slice(hs, s, w)`` per window start — r12: zero exchanges where the
r11 shape paid an explode + Exchange(id) + sort for the frame and a
second Exchange for the distinct); only the selected fingerprints ever
become rows, at ``~2/(w+1)`` gram density. Pair expansion is
bucket-local by hash with the exact triangle-block hot-cell guard
(boilerplate fingerprints shared by thousands of docs become bounded
parallel blocks, not an O(m²) straggler).

Tie-breaking is the paper's ROBUST winnowing rule: within a window the
minimum hash is selected, ties broken toward the RIGHTMOST position —
expressed as ``min(struct(h, -pos))`` so one window aggregate yields the
(hash, position) pair exactly, in any engine, with no secondary pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# a document pair is a positional near-dup once it shares this many
# distinct fingerprint hashes
_MIN_SHARED = 2


def _gram_hash_arrays(
    df: DataFrame,
    content_col: str,
    id_col: str,
    k: int,
    tokens_col: str | None,
) -> DataFrame:
    """(id, __hs): per-doc ARRAY of the 60-bit md5-derived k-gram hashes
    (index i, 0-based, holds the hash of the gram at 1-based position
    i + 1). Docs with fewer than ``k`` tokens are dropped. Shared substrate
    of :func:`gram_hashes` (which explodes it) and
    :func:`winnow_fingerprints` (which winnows it in-array, shuffle-free).
    """
    assert k >= 1
    if tokens_col is not None:
        base = df.select(
            F.col(id_col),
            F.filter(F.col(tokens_col), lambda x: x != "").alias("__tk"),
        )
    else:
        par = df.sparkSession.sparkContext.defaultParallelism
        base = df.select(F.col(id_col), F.col(content_col))
        # small-file scans can arrive as one partition and serialize the md5
        # stream; at corpus scale the scan already has >= par splits and this
        # no-ops (see dedup.repeated_spans for the measured rationale)
        if base.rdd.getNumPartitions() < par:
            base = base.repartition(par, F.col(id_col))
        toks = F.filter(F.split(F.col(content_col), " "), lambda x: x != "")
        base = base.select(F.col(id_col), toks.alias("__tk"))
    n = F.size("__tk")
    hs = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.conv(
            F.substring(
                F.md5(F.array_join(F.slice(F.col("__tk"), i, k), " ")),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
    )
    # r12: gate on the CHEAP predicate (token count) before the hash
    # projection. The previous `when(n >= k, hs)` + `isNotNull` filter was
    # pushed below the projection as
    # `CASE WHEN size(..) >= k THEN isnotnull(transform(.. md5 ..))` —
    # every surviving doc evaluated the full md5 gram chain TWICE, once in
    # the filter and once in the projection (guide §4.4's duplication in
    # native-expression form). Row set is identical: hs is non-null exactly
    # when n >= k.
    return base.where(n >= k).select(F.col(id_col), hs.alias("__hs"))


def gram_hashes(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    tokens_col: str | None = None,
) -> DataFrame:
    """(id, pos, h, n_grams): 60-bit md5-derived hash of every stride-1
    k-gram of whitespace tokens (1-based positions). Docs with fewer than
    ``k`` tokens contribute no rows. The md5 keeps the hash bit-identical
    across engines (oracle parity); swap for xxhash64 off the oracle path.

    ``tokens_col`` names an EXISTING token-array column to consume instead
    of tokenizing ``content_col`` — the shared-stage seam for multi-
    detector plans (detector_agreement pins one tokenized frame and feeds
    all three near-dup families from it). The caller owns partitioning in
    that case (a pinned frame already carries the repartition guard).
    """
    g = _gram_hash_arrays(df, content_col, id_col, k, tokens_col)
    return (
        g.select(
            id_col,
            F.size("__hs").cast("long").alias("n_grams"),
            F.posexplode("__hs").alias("p0", "h"),
        )
        .select(
            id_col,
            "n_grams",
            (F.col("p0") + 1).cast("long").alias("pos"),
            F.col("h"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    tokens_col: str | None = None,
) -> DataFrame:
    """(id, pos, h) distinct winnowing fingerprints: the rightmost minimal
    k-gram hash of every full window of ``w`` consecutive hashes (window
    starts ``1 .. n_grams - w + 1``; a document with fewer than ``w``
    hashes keeps the minimum of what it has — the paper's guarantee that
    every document fingerprints at least once).

    The selection is one row-local projection over the per-doc hash
    array: per window start, ``array_min`` of ``struct(h, -pos)`` over
    the window's slice — the minimum-hash/rightmost-tie pair in one
    expression — then ``array_distinct`` of the selected set (adjacent
    windows usually re-select the same gram; that collapse IS the
    2/(w+1) density win). No Window operator; the only exchange is the
    scan's id repartition guard, when it fires.
    """
    assert w >= 1
    # r12 optimization: the windows of the winnow are PER-DOCUMENT, and the
    # gram hashes already live in a per-doc array — so the whole selection
    # (sliding min + rightmost tie-break + dedup) runs inside one row-local
    # projection. The previous shape exploded every gram through an
    # Exchange(id) + sort for the window frame and paid a second full
    # Exchange for the final distinct; this shape has ZERO exchanges
    # (guide §2.4 — remove shuffles outright). Results are identical:
    # min(struct(h, -pos)) over slice(hs, s, w) IS the frame min of
    # ROWS BETWEEN CURRENT AND w-1 FOLLOWING at start s, and
    # array_distinct of the selected (h, -pos) structs IS the row-level
    # distinct (fingerprints never collide across docs in one row).
    g = _gram_hash_arrays(df, content_col, id_col, k, tokens_col)
    ng = F.size("__hs")
    starts = F.sequence(F.lit(1), F.greatest(ng - (w - 1), F.lit(1)))
    sel = F.transform(
        starts,
        lambda s: F.array_min(
            F.transform(
                F.slice(F.col("__hs"), s, w),
                lambda h, j: F.struct(h.alias("h"), (-(s + j)).alias("np")),
            )
        ),
    )
    return (
        g.select(F.col(id_col), F.explode(F.array_distinct(sel)).alias("f"))
        .select(
            id_col,
            (-F.col("f.np")).cast("long").alias("pos"),
            F.col("f.h").alias("h"),
        )
    )


def winnow_fp_sets(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    tokens_col: str | None = None,
) -> DataFrame:
    """(id, hs): the DISTINCT winnowing fingerprint HASH set per document,
    as one array column — the set :func:`winnow_fingerprints` explodes,
    without positions. Built entirely row-locally (r12): downstream
    set-keyed consumers (pair expansion, fingerprint counts, incremental
    flags) get per-doc-distinct rows from ``explode`` with ZERO dedup
    exchanges, and ``size(hs)`` replaces a distinct + groupBy count.
    """
    assert w >= 1
    g = _gram_hash_arrays(df, content_col, id_col, k, tokens_col)
    ng = F.size("__hs")
    starts = F.sequence(F.lit(1), F.greatest(ng - (w - 1), F.lit(1)))
    sel = F.transform(
        starts,
        lambda s: F.array_min(
            F.transform(
                F.slice(F.col("__hs"), s, w),
                lambda h, j: F.struct(h.alias("h"), (-(s + j)).alias("np")),
            )
        )["h"],
    )
    return g.select(F.col(id_col), F.array_distinct(sel).alias("hs"))


def winnow_fp_rows(fps: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, h) rows from a :func:`winnow_fp_sets` frame, already unique on
    (id, h). Uses ``explode_outer`` + an ``isNotNull`` filter instead of a
    plain ``explode``: the non-outer explode makes the optimizer infer a
    ``size(hs) > 0`` filter (InferFiltersFromGenerate) and push it below
    the repartition guard with ``hs`` substituted by the ENTIRE md5/winnow
    expression chain — the whole winnow then executes inside the Filter on
    the (single-partition) scan side of the exchange. Measured: 19x wall
    regression on incremental_winnow at sf0.1 (110 s one-task filter
    stage). The outer explode emits one null-h row per empty/NULL set,
    removed by the filter — row set identical (hash elements are never
    null). Barrier-pinned callers are immune either way; this is the safe
    spelling for both.
    """
    return fps.select(
        F.col(id_col), F.explode_outer("hs").alias("h")
    ).where(F.col("h").isNotNull())


def winnow_overlap_pairs(
    fp: DataFrame,
    id_col: str = "doc_id",
    max_cell_size: int | None = None,
    hashes_distinct: bool = False,
) -> DataFrame:
    """(doc_a, doc_b, shared) for every document pair sharing at least
    ``_MIN_SHARED`` distinct fingerprint HASHES — positional near-dup /
    plagiarism candidates ranked by overlap mass.

    Bucket-local expansion through ``dedup.cell_pair_rows`` keyed by
    hash: distinct (id, h) grouped by hash, ordered pairs expanded within
    each bucket array, counted per pair — each pair surfaces once per
    shared hash, so the count needs no second join.
    ``max_cell_size`` arms the exact triangle-block guard for hot hashes
    (site boilerplate shared corpus-wide): the pair SET and counts are
    unchanged, the per-task quadratic term is bounded.

    ``hashes_distinct=True`` declares the input rows already unique on
    (id, h) — e.g. the explode of :func:`winnow_fp_sets` — skipping the
    full (id, h) distinct exchange (r12, guide §2.4).
    """
    from pharmacodi_spark.text.dedup import cell_pair_rows

    d = fp.select(F.col(id_col), "h")
    if not hashes_distinct:
        d = d.distinct()
    return (
        cell_pair_rows(d, ["h"], id_col, max_cell_size)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
        .where(F.col("shared") >= _MIN_SHARED)
    )


def winnow_incremental_flags(
    new_fp: DataFrame,
    index_fp: DataFrame,
    id_col: str = "doc_id",
    hashes_distinct: bool = False,
) -> DataFrame:
    """Ingest-time positional dedup: flag arriving documents whose
    winnowing fingerprints overlap an EXISTING corpus fingerprint index —
    the "is this (or a paragraph of it) already in the corpus?" gate a
    crawler runs before admitting a batch, at passage granularity (the
    whole-doc minhash flags of pipelines/ingest.py miss a lifted
    paragraph pasted into fresh text).

    Inputs are fingerprint frames (``winnow_fingerprints`` output for the
    batch; the stored index for the corpus). Per flagged doc:
    ``(id, n_fp, best_match, shared, containment_ppm)`` — the strongest
    corpus match (most shared hashes, ties → smaller id) and how much of
    the NEW document it covers.

    Scale shape: both sides reduce to distinct (id, hash) and join on the
    8-byte hash — batch-side rows × per-hash index fan-out; the per-pair
    count and best-match selection key on the batch id (a bounded
    micro-batch). The corpus index never rescans bodies — it is exactly
    the table the streaming upsert maintains.
    """
    # hashes_distinct: both inputs already unique on (id, h) — e.g. the
    # explode of winnow_fp_sets — so the two (id, h) dedup exchanges
    # vanish (r12, guide §2.4); the batch-side count keeps map-side
    # partial aggregation either way
    n = new_fp.select(F.col(id_col).alias("__nid"), "h")
    idx = index_fp.select(F.col(id_col).alias("__cid"), "h")
    if not hashes_distinct:
        n = n.distinct()
        idx = idx.distinct()
    nf = n.groupBy("__nid").agg(F.count(F.lit(1)).alias("__nfp"))
    shared = (
        n.join(idx, "h")
        # a re-processed document's own index entries are not evidence
        .where(F.col("__nid") != F.col("__cid"))
        .groupBy("__nid", "__cid")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= _MIN_SHARED)
    )
    best = (
        shared.groupBy("__nid")
        .agg(
            F.min(
                F.struct(
                    (-F.col("shared")).alias("ns"),
                    F.col("__cid").alias("cid"),
                )
            ).alias("__b")
        )
        .select(
            "__nid",
            F.col("__b.cid").alias("best_match"),
            (-F.col("__b.ns")).cast("long").alias("shared"),
        )
    )
    return best.join(nf, "__nid").select(
        F.col("__nid").alias(id_col),
        F.col("__nfp").cast("long").alias("n_fp"),
        "best_match",
        "shared",
        F.expr("(shared * 1000000) div __nfp").cast("long").alias(
            "containment_ppm"
        ),
    )
