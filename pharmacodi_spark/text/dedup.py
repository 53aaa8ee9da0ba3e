"""Document deduplication library (north star): exact, MinHash-LSH, SimHash.

Two near-dup hash families live here, apart on purpose:

- the production family — :func:`minhash_signatures`, :func:`band_cells`,
  :func:`simhash` — hashes with xxhash64 (Spark's fastest 64-bit hash),
  takes any column names, hash counts and widths, and feeds the ingest
  gauntlet (pipelines/ingest.py) and the other library callers;
- the md5 family — :func:`md5_signature`, :func:`md5_band_cells`,
  :func:`md5_band_pairs`, :func:`md5_simhash` — slices md5 digests, which
  DuckDB computes bit-identically, so it is the ORACLE-PARITY family: the
  registry rows that the DuckDB oracle checks run it, and its SQL twins
  are ``_SHINGLE_SQL``, ``_minhash_sql_select`` and ``_sim_sql`` in
  plans/queries.py. It works on the fixture's ``doc_id``/``text`` columns
  with k = 4 hashes (one md5 digest holds exactly four 32-bit slices).

One function serving both would have to branch on its caller: oracle
parity fixes the hash, the hash count and the column names that the
production path leaves free. Both families share one pair kernel,
:func:`cell_pair_rows`, through which every within-cell pair expansion
(LSH band buckets, winnowing hashes) runs.

All hashing stays JVM-side (md5/xxhash64 expressions); no Python UDFs.

At 100 TB: every op here shuffles only (id, fixed-width hash) tuples, never
document bodies; pair generation is bucket-local (LSH) so the only quadratic
term is within-bucket size, bounded by banding.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pharmacodi_spark.barrier import stage_barrier
from pharmacodi_spark.operators.partitioning import (
    fan_out,
    pin_pair_parallelism,
    spread_small_scan,
)


def exact_dedup(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    keeper_order: list | None = None,
) -> DataFrame:
    """Keep one row per exact content duplicate. Default keeper: min id.
    ``keeper_order`` overrides the policy with explicit sort Columns —
    e.g. ``[F.desc("quality_score"), F.col("doc_id")]`` keeps the
    highest-quality duplicate (ties → lower id), the policy real
    pipelines prefer over first-seen. Grouping key is the md5 of the
    content — the shuffle carries 32-byte hashes, not bodies."""
    order = keeper_order if keeper_order is not None else [F.col(id_col)]
    w = Window.partitionBy(F.md5(F.col(content_col))).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def _shingle_col(content_col: str, n: int) -> Column:
    toks = F.split(F.col(content_col), r"\s+")
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))


def minhash_signatures(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_len: int = 5,
) -> DataFrame:
    """(id, h0..h{k-1}) MinHash signature over word shingles.

    Hash families: xxhash64(seed, shingle) — Spark's fastest 64-bit hash
    (the oracle-checked plans use md5 slices instead purely for DuckDB
    parity). One explode + one groupBy; shuffle rows are (id, k longs)."""
    # shingle build + k hashes per shingle is the CPU term and sits on the
    # scan; spread a single-split scan before it (no-op at corpus scale),
    # keyed by id so the groupBy(id) rides the same exchange (r12 §2.5)
    shingled = spread_small_scan(
        df.select(F.col(id_col), F.col(content_col)), id_col
    ).select(
        F.col(id_col), F.explode(_shingle_col(content_col, shingle_len)).alias("sh")
    )
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("sh"))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return shingled.groupBy(id_col).agg(*aggs)


def minhash_near_dup_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    max_cell_size: int | None = None,
) -> DataFrame:
    """LSH candidate near-dup pairs (doc_a < doc_b) over 5-shingle
    signatures in 4 bands: band the signature, bucket by (band, hash of the
    band's rows), expand ordered pairs within each bucket array — no
    self-join, one signature computation, one shuffle (see
    :func:`md5_band_pairs` for the physical rationale).
    ``max_cell_size`` arms the exact hot-bucket guard (see
    :func:`cell_pair_rows`)."""
    assert num_hashes % 4 == 0, "num_hashes must divide into 4 bands"
    sig = minhash_signatures(df, content_col, id_col, num_hashes)
    return pairs_from_cells(
        band_cells(sig, id_col, num_hashes, 4), id_col, max_cell_size
    )


def band_cells(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(id, band, bucket) LSH cells from a signature frame — the SHARED
    derivation behind pair generation (within-corpus dedup) and band-bucket
    indices/flags (incremental ingest). Callers that need both (e.g.
    pipelines/ingest.py) compute the signature once, ``localCheckpoint``
    these cells, and fan out — instead of re-running the shingle+hash
    subplan per consumer."""
    assert num_hashes % bands == 0, "num_hashes must divide into bands"
    rows_per_band = num_hashes // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("b")
    ).select(id_col, "b.band", "b.bucket")


def triangle_blocks(
    df: DataFrame,
    key_cols: list[str],
    id_col: str,
    max_cell_size: int,
) -> DataFrame:
    """Hot-cell skew guard: decompose each cell (group of rows sharing
    ``key_cols``) for an EXACT bounded self-join.

    A cell of m rows splits into s = ceil(m / max_cell_size) subgroups by a
    secondary hash of the id (``__g``). The s*(s+1)/2 unordered subgroup
    pairs are the *blocks*; each row is replicated into the s blocks whose
    coordinates contain its subgroup — columns ``__bi <= __bj``. Joining the
    result with itself on (key_cols, __bi, __bj) + :func:`triangle_pair_cond`
    yields every within-cell ordered pair EXACTLY ONCE:

    - gu != gv: the only block containing both subgroups is
      (min(gu,gv), max(gu,gv));
    - gu == gv: both rows appear in s common blocks, and the
      ``(bi == bj) | (a.g != b.g)`` term of the condition keeps only the
      diagonal (g, g).

    So results are identical to the naive ``a.key == b.key`` self-join, but
    the per-task pair count is bounded by (2*max_cell_size)^2 — one hot cell
    (boilerplate near-constant embeddings, a degenerate LSH bucket) becomes
    s^2 parallel tasks instead of one O(m^2) straggler. Replicated rows are
    the price: m*s per hot cell, i.e. m^2/max_cell_size — linear blow-up to
    kill a quadratic straggler. Cells at or under the cap take s = 1 and
    degenerate to the plain path.

    The per-cell count rides a ``count(*) OVER (PARTITION BY key)`` window
    on the SAME exchange the blocking needs anyway (r12 — the previous
    groupBy + join-back paid two extra exchanges of the cell rows for the
    same value; guide §2.4: two operations keyed the same way share one
    exchange). Per-task row mass is unchanged: a hot cell's rows landed on
    one task under the join too; the window only adds a local sort of the
    cell key."""
    assert max_cell_size >= 1
    from pyspark.sql import Window as _W

    d = df.withColumn(
        "__cnt", F.count(F.lit(1)).over(_W.partitionBy(*key_cols))
    )
    s = F.ceil(F.col("__cnt") / F.lit(max_cell_size)).cast("int")
    d = d.withColumn("__s", s).withColumn(
        "__g", F.pmod(F.xxhash64(F.col(id_col)), F.col("__s")).cast("int")
    )
    blocks = F.transform(
        F.sequence(F.lit(0), F.col("__s") - 1),
        lambda k: F.struct(
            F.least(F.col("__g"), k).alias("bi"),
            F.greatest(F.col("__g"), k).alias("bj"),
        ),
    )
    return d.withColumn("__b", F.explode(blocks)).select(
        *df.columns,
        "__g",
        F.col("__b.bi").alias("__bi"),
        F.col("__b.bj").alias("__bj"),
    )


def triangle_pair_cond(key_cols: list[str], id_col: str) -> Column:
    """Join condition completing :func:`triangle_blocks`: same cell, same
    block, ordered ids, and the diagonal-only rule for same-subgroup pairs.
    The two sides of the self-join MUST be aliased ``"a"`` and ``"b"``
    (string-qualified resolution sidesteps Spark's ambiguous-self-join
    column-id check)."""

    def ab(c: str) -> tuple[Column, Column]:
        return F.col(f"a.{c}"), F.col(f"b.{c}")

    cond = reduce(
        lambda acc, k: acc & (ab(k)[0] == ab(k)[1]),
        key_cols,
        (F.col("a.__bi") == F.col("b.__bi"))
        & (F.col("a.__bj") == F.col("b.__bj")),
    )
    return (
        cond
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        & (
            (F.col("a.__bi") == F.col("a.__bj"))
            | (F.col("a.__g") != F.col("b.__g"))
        )
    )


def cell_pair_rows(
    cells: DataFrame,
    key_cols: list[str],
    id_col: str,
    max_cell_size: int | None,
) -> DataFrame:
    """The within-cell pair kernel: one ``(doc_a, doc_b)`` row, doc_a <
    doc_b, per cell (group of rows sharing ``key_cols``) that holds both
    ids. Each cell is collected into one sorted id array and its ordered
    pairs are expanded inside the array — no self-join; cell size is the
    only quadratic term. A pair sharing several cells appears once per
    shared cell: :func:`pairs_from_cells` dedups them, winnowing counts
    them as shared hashes.

    ``max_cell_size`` (None: unguarded) arms the hot-cell skew guard:
    cells larger than the cap are triangle-block re-split
    (:func:`triangle_blocks`) so both the ``collect_list`` array per task
    and the per-task pair count stay bounded by ~2*max_cell_size
    regardless of cell skew. The rows are unchanged — the guard
    redistributes work, it does not drop candidates (results stay
    oracle-exact)."""
    # pin the cell-expansion exchange to defaultParallelism (r12, guide
    # §2.5): AQE coalesces it by BYTES (ids + key ints) while the in-array
    # pair expansion downstream is quadratic in rows per cell — on
    # small-byte inputs the whole expansion landed on ONE task. The
    # repartition replaces the groupBy's own ENSURE_REQUIREMENTS exchange
    # 1:1 (same keys); per-key mass is bounded by the triangle guard when
    # armed, by the LSH bucket structure otherwise.
    if max_cell_size is None:
        cells = pin_pair_parallelism(cells, key_cols)
        grouped = cells.groupBy(*key_cols)
        member = F.col(id_col)
    else:
        blk = triangle_blocks(cells, key_cols, id_col, max_cell_size)
        blk = pin_pair_parallelism(blk, [*key_cols, "__bi", "__bj"])
        grouped = blk.groupBy(*key_cols, "__bi", "__bj")
        member = F.struct(F.col(id_col).alias("id"), F.col("__g").alias("g"))
    buckets = grouped.agg(
        F.array_sort(F.collect_list(member)).alias("members")
    ).where(F.size("members") > 1)
    ms = F.col("members")
    if max_cell_size is None:
        pair = lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b"))  # noqa: E731
    else:
        diag = F.col("__bi") == F.col("__bj")
        pair = lambda x, y: F.struct(  # noqa: E731
            x["id"].alias("doc_a"),
            y["id"].alias("doc_b"),
            (diag | (x["g"] != y["g"])).alias("ok"),
        )

    def later(x, i):
        # the ids after x in the sorted cell array; the guarded path keeps
        # a same-subgroup pair only in its diagonal block
        ps = F.transform(F.slice(ms, i + 2, F.size(ms)), lambda y: pair(x, y))
        return ps if max_cell_size is None else F.filter(ps, lambda p: p["ok"])

    pairs = buckets.select(F.explode(F.flatten(F.transform(ms, later))).alias("p"))
    return pairs.select("p.doc_a", "p.doc_b")


def pairs_from_cells(
    cells: DataFrame, id_col: str = "doc_id", max_cell_size: int | None = None
) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) from (id, band, bucket)
    LSH cells — :func:`cell_pair_rows` keyed by (band, bucket), deduped
    across bands."""
    return cell_pair_rows(cells, ["band", "bucket"], id_col, max_cell_size).distinct()


def simhash(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """SimHash fingerprint: per token, xxhash64; per bit, sum(±1) over
    tokens; fingerprint bit j = sign of the sum. Near-dups then differ in
    few bits (Hamming distance via ``bit_count(a ^ b)``).

    Expressed as one explode + one groupBy with ``bits`` conditional sums —
    all codegen'd; shuffle rows are (id, bits ints)."""
    # the per-token hash + ``bits`` conditional partial sums run scan-side;
    # spread a single-split scan first (no-op at corpus scale), keyed by id
    # so the groupBy(id) rides the same exchange (r12 §2.5)
    toks = spread_small_scan(
        df.select(F.col(id_col), F.col(content_col)), id_col
    ).select(
        F.col(id_col), F.explode(F.split(F.col(content_col), r"\s+")).alias("tok")
    ).withColumn("h", F.xxhash64("tok"))
    # 1<<j as a Python literal overflows signed-long at j=63; shiftleft on a
    # long yields the correct mask (bit 63 → Long.MIN_VALUE, still a valid
    # single-bit mask for bitwiseAND / bitwiseOR).
    masks = [F.shiftleft(F.lit(1).cast("long"), j) for j in range(bits)]
    bit_sums = [
        F.sum(F.when(F.col("h").bitwiseAND(masks[j]) != 0, 1).otherwise(-1)).alias(
            f"b{j}"
        )
        for j in range(bits)
    ]
    sums = toks.groupBy(id_col).agg(*bit_sums)
    fingerprint = None
    for j in range(bits):
        bit = F.when(F.col(f"b{j}") > 0, masks[j]).otherwise(F.lit(0).cast("long"))
        fingerprint = bit if fingerprint is None else fingerprint.bitwiseOR(bit)
    return sums.select(F.col(id_col), fingerprint.alias("simhash"))


def simhash_near_pairs(
    sim: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    prefix_bits: int = 16,
    bits: int = 64,
    max_cell_size: int | None = None,
) -> DataFrame:
    """Candidate pairs from SimHash fingerprints: bucket by the top
    ``prefix_bits`` (near-dups usually share the prefix), then exact Hamming
    filter with bit_count(xor) within buckets.

    ``bits`` must match the fingerprint width used in :func:`simhash` — the
    bucket is the top ``prefix_bits`` of that width; a mismatched width
    silently degrades bucketing (everything lands in bucket 0).

    ``max_cell_size`` arms the exact hot-bucket guard: oversized prefix
    buckets (e.g. a corpus where most fingerprints share a prefix) are
    triangle-block re-split and the pair expansion runs as a bounded
    self-join instead of one giant ``collect_list`` array — same pair set,
    bounded per-task work."""
    assert 0 < prefix_bits < bits, "prefix_bits must be in (0, bits)"
    bucketed = sim.withColumn(
        "bucket", F.shiftrightunsigned(F.col("simhash"), bits - prefix_bits)
    )
    if max_cell_size is not None:
        blk = triangle_blocks(bucketed, ["bucket"], id_col, max_cell_size)
        # pin the pair-join exchange parallelism (r12, guide §2.5 — see
        # cell_pair_rows); the bit_count Hamming work is per-PAIR
        blk = pin_pair_parallelism(blk, ["bucket", "__bi", "__bj"])
        a, b = blk.alias("a"), blk.alias("b")
        return (
            a.join(b, triangle_pair_cond(["bucket"], id_col))
            .select(
                F.col(f"a.{id_col}").alias("doc_a"),
                F.col(f"b.{id_col}").alias("doc_b"),
                F.bit_count(
                    F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
                ).alias("hamming"),
            )
            .where(F.col("hamming") <= max_hamming)
        )
    buckets = (
        pin_pair_parallelism(bucketed, ["bucket"])
        .groupBy("bucket")
        .agg(F.array_sort(F.collect_list(F.struct(id_col, "simhash"))).alias("m"))
        .where(F.size("m") > 1)
    )
    ms = F.col("m")
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    ms,
                    lambda x, i: F.transform(
                        F.slice(ms, i + 2, F.size(ms)),
                        lambda y: F.struct(x.alias("a"), y.alias("b")),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select(
        F.col(f"p.a.{id_col}").alias("doc_a"),
        F.col(f"p.b.{id_col}").alias("doc_b"),
        F.bit_count(F.col("p.a.simhash").bitwiseXOR(F.col("p.b.simhash"))).alias(
            "hamming"
        ),
    ).where(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# md5 (oracle-parity) family: every value has a DuckDB twin in plans/queries.py
# ---------------------------------------------------------------------------


def md5_shingles(df: DataFrame, tokens_col: str | None = None) -> DataFrame:
    """(doc_id, shingle) rows: 5-gram word shingles via a single projection —
    split on " " → sequence of start positions → slice+join per position →
    explode. All array functions, no UDF; a doc shorter than 5 tokens
    yields one whole-doc shingle (both engines clip the slice identically).
    ``tokens_col`` consumes an existing token-array column instead of
    splitting ``text`` (the detector_agreement shared-stage seam; the
    caller owns partitioning)."""
    if tokens_col is not None:
        toks = F.col(tokens_col)
        base = df
    else:
        toks = F.split("text", " ")
        base = fan_out(df, "doc_id")
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - 4, F.lit(1)))
    sh = F.transform(idx, lambda i: F.array_join(F.slice(toks, i, 5), " "))
    return base.select("doc_id", F.explode(sh).alias("shingle"))


def md5_signature(d: DataFrame, tokens_col: str | None = None) -> DataFrame:
    """(doc_id, h0..h3) MinHash signature: shingle → one md5 in an explicit
    projection (guaranteed single digest per shingle — aggregate subtrees
    don't share subexpressions) → four min-aggs over the digest's 32-bit
    hex slices [1..8], [9..16], [17..24], [25..32] — 4x fewer digests than
    seeded re-hashing, still independent bits, still oracle-expressible.
    The groupBy reuses :func:`md5_shingles`' fan_out partitioning (same
    key) so the only exchange in the signature subplan carries pre-explode
    rows."""
    return (
        md5_shingles(d, tokens_col)
        .select("doc_id", F.md5("shingle").alias("m"))
        .groupBy("doc_id")
        .agg(
            *[
                F.min(
                    F.conv(F.substring("m", 1 + 8 * i, 8), 16, 10).cast("long")
                ).alias(f"h{i}")
                for i in range(4)
            ]
        )
    )


def md5_band_cells(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) LSH cells of a :func:`md5_signature` frame:
    2 bands × 2 rows, bucket = struct(v1, v2) of the band's two hashes.
    Bands come from ONE explode (not a self-union, which would run the
    whole signature subplan once per branch)."""
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band"), F.col("h0").alias("v1"), F.col("h1").alias("v2")),
                F.struct(F.lit(1).alias("band"), F.col("h2").alias("v1"), F.col("h3").alias("v2")),
            )
        ).alias("b"),
    ).select(
        "doc_id",
        F.col("b.band").alias("band"),
        F.struct(F.col("b.v1").alias("v1"), F.col("b.v2").alias("v2")).alias(
            "bucket"
        ),
    )


def md5_band_pairs(sig: DataFrame) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) from a :func:`md5_signature`
    frame, with the triangle hot-cell guard armed at 256 (r9 — the one
    band-bucket path that lacked it; the r9 sf1 probe measured a
    degenerate-bucket fixture building 400k-pair arrays in single tasks).
    No self-join (it would recompute the signature subplan per side and
    shuffle the full band table twice). Bucket sizes are the only
    quadratic term: LSH banding keeps them small by construction, and
    buckets past the cap are re-split into bounded parallel tasks — the
    pair SET is unchanged (oracle-exact), only the work distribution.

    The signature frame is not pinned: the band explode is its only
    consumer, because the triangle guard counts cells with a window on the
    blocking's own exchange (:func:`triangle_blocks`) instead of a join
    back to the cells, so the shingle+md5+groupBy subplan runs once, inside
    the pair job."""
    return pairs_from_cells(md5_band_cells(sig), max_cell_size=256)


def md5_simhash(
    d: DataFrame, tokens_col: str | None = None, bits: int = 16
) -> DataFrame:
    """(doc_id, simhash): ``bits``-wide SimHash from md5-sliced 60-bit token
    hashes — the oracle-parity variant of :func:`simhash` (xxhash64, 64
    bits); ``bits`` ≤ 60, the md5-slice budget. Per token a 60-bit hash;
    per bit j, sum(±1) over space-split tokens; fingerprint bit j = sign
    of the sum. ``tokens_col`` consumes an existing token-array column
    (shared-stage seam; the caller owns partitioning)."""
    assert bits <= 60, "md5 15-hex-char slice provides 60 hash bits"
    if tokens_col is not None:
        base = d.select("doc_id", F.explode(F.col(tokens_col)).alias("tok"))
    else:
        base = fan_out(d, "doc_id").select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
    toks = base.withColumn(
        "th", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    )
    # r12 (guide §1.2): build the per-bit aggregates and the fingerprint
    # fold as SQL strings — ONE py4j round trip per expression instead of
    # ~7 Column-API calls per bit (cProfile: the 60-bit builder spent
    # 2.2 s of pure driver time, ~90% of it py4j socket wait). Exactly the
    # _sim_sql twin's text, so values are unchanged by construction.
    bit_sums = [
        F.expr(
            f"sum(CASE WHEN (th & {1 << j}) != 0 THEN 1 ELSE -1 END)"
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    sums = toks.groupBy("doc_id").agg(*bit_sums)
    fp = F.expr(
        " + ".join(
            f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(bits)
        )
    )
    return sums.select("doc_id", fp.cast("long").alias("simhash"))


def _nonempty_tokens(content_col: str, tokens_col: str | None) -> Column:
    # tokens_col: pre-tokenized array seam (CJK via unicode_tokens) — on
    # space-split an unspaced CJK doc is ONE token = one passage, so
    # cross-document passage sharing degenerates silently (VERDICT r10
    # item 4)
    src = (
        F.col(tokens_col)
        if tokens_col is not None
        else F.split(F.col(content_col), " ")
    )
    return F.filter(src, lambda x: x != "")


def passage_hashes(
    window: int, content_col: str, tokens_col: str | None = None
) -> Column:
    """Array of md5 hashes, one per consecutive ``window``-token passage
    (last one partial) of the non-empty space-split tokens (or the
    ``tokens_col`` array) — the passage key of :func:`passage_dedup_stats`,
    :func:`passage_first_owner_stats` and the streaming curation owner
    index. A document with no tokens yields ``[md5('')]``; the stats
    drop such rows first (:func:`_nonempty_tokens`)."""
    assert window >= 1
    toks = _nonempty_tokens(content_col, tokens_col)
    n = F.size(toks)
    # the upper bound clamps at 0 so the expression stays TOTAL on n = 0
    # rows: the stats' `where(n > 0)` filter removes them, but an
    # optimizer-inferred predicate (InferFiltersFromGenerate on the
    # downstream explode, with the chunks substituted) can evaluate the
    # transform on such a row FIRST — and an unclamped bound of -1 makes
    # sequence(0, -1) descend into i = -1, whose slice start of 0 is an
    # ANSI error (caught by hypothesis: a single empty document raised
    # INVALID_PARAMETER_VALUE.START). Real rows have n >= 1, bound >= 0:
    # values unchanged.
    idx = F.sequence(
        F.lit(0),
        F.greatest(
            F.floor((n - 1) / F.lit(float(window))).cast("int"), F.lit(0)
        ),
    )
    return F.transform(
        idx,
        lambda i: F.md5(F.array_join(F.slice(toks, i * window + 1, window), " ")),
    )


def passage_dedup_stats(
    df: DataFrame,
    window: int = 16,
    content_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
) -> DataFrame:
    """CCNet-style cross-document passage dedup: cut each document into
    consecutive ``window``-token passages (last one partial), hash each,
    and flag passages that appear in ≥2 DISTINCT documents.  Per doc:
    (n_passages, n_dup_passages, dup_frac, keep) with ``keep`` =
    duplicated fraction ≤ 1/2 (integer cross-multiplied — no float in the
    gate).  Within-doc repetition is deliberately NOT counted (that is
    gopher_repetition's gate); this is the shared-boilerplate filter.

    Scale shape: passages are built narrowly from the split-token array
    (``transform`` over a ``sequence`` of chunk indices — no explode
    until the hash column exists), and only (id, 32-byte hash) rows
    shuffle.  The hash count table is corpus-boilerplate-sized; AQE
    broadcasts it when small and skew-splits the hot empty-ish hashes
    when not.  Bodies never shuffle.
    """
    chunks = passage_hashes(window, content_col, tokens_col)
    # r12 (guide §2.3/2.4): the doc-frequency side dedups INSIDE the
    # per-doc chunk array, so one map-side-combined groupBy(h) replaces
    # the count_distinct two-phase aggregate; per-doc totals are row-local
    # (size of the chunk array), so only instances of CROSS-DOC-duplicated
    # hashes — the dup mass — reach the per-doc count exchange
    # r12: gate on the cheap token-count predicate BEFORE the chunk
    # projection — the former `when(n > 0, chunks)` + isNotNull filter was
    # pushed below the projection and re-evaluated the full md5 chunk
    # transform per row just to test null-ness (guide §4.4's duplication
    # in native form). Same rows: chunks is null exactly when n == 0.
    # Spread a single-split scan below the chunk projection (no-op at
    # corpus scale) — the md5 chunk mass otherwise serializes on one task.
    # The identical exchange under all three base consumers ReuseExchange-
    # dedups (one scan, one shuffle); the chunk projection ABOVE it still
    # evaluates per consumer, but in parallel — kept above deliberately:
    # below the exchange it would run once yet inside the single scan task
    # this guard exists to relieve (r12 §2.5)
    n = F.size(_nonempty_tokens(content_col, tokens_col))
    base = spread_small_scan(
        df.where(n > 0).select(
            F.col(id_col), F.col(tokens_col or content_col)
        ),
        id_col,
    ).select(F.col(id_col), chunks.alias("chunks"))
    dup_h = (
        base.select(F.col(id_col), F.explode(F.array_distinct("chunks")).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    hits = (
        base.select(F.col(id_col), F.explode("chunks").alias("h"))
        .join(dup_h, "h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup"))
    )
    per = base.select(
        F.col(id_col), F.size("chunks").alias("n_passages")
    ).join(hits, id_col, "left")
    return (
        df.select(id_col)
        .join(per, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_passages", F.lit(0)).cast("long").alias("n_passages"),
            F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup_passages"),
            F.when(
                F.coalesce("n_passages", F.lit(0)) > 0,
                F.coalesce("n_dup", F.lit(0)).cast("double")
                / F.col("n_passages"),
            )
            .otherwise(0.0)
            .alias("dup_frac"),
            (
                2 * F.coalesce("n_dup", F.lit(0))
                <= F.coalesce("n_passages", F.lit(0))
            ).alias("keep"),
        )
    )


def passage_first_owner_stats(
    df: DataFrame,
    window: int = 16,
    content_col: str = "text",
    id_col: str = "doc_id",
    prior_owned: DataFrame | None = None,
    tokens_col: str | None = None,
) -> DataFrame:
    """Prefix-consistent variant of :func:`passage_dedup_stats` — the
    passage-dedup semantics a STREAMING curation pass can reproduce
    exactly: each passage hash is OWNED by the smallest ``id_col`` that
    contains it (plus, optionally, every hash in ``prior_owned`` — a
    one-column ``h`` frame of hashes claimed by earlier stream batches,
    which own unconditionally). A passage instance counts as duplicated
    iff its hash's owner precedes this document; ``keep`` = duplicated
    instances ≤ half (integer cross-multiplied).

    Unlike the count-distinct variant (where a doc's verdict depends on
    LATER documents sharing its passages — inherently corpus-global),
    first-owner verdicts depend only on the id-order prefix, so a
    micro-batched run over ascending id ranges with a persisted owner
    index produces byte-identical keeps (pipelines/curation_stream.py;
    equivalence pytest-proven). Same scale shape: only (id, 32-byte hash)
    rows shuffle, the owner table is boilerplate-sized.
    """
    chunks = passage_hashes(window, content_col, tokens_col)
    n = F.size(_nonempty_tokens(content_col, tokens_col))
    # r12: cheap-predicate gate before the projection (see
    # passage_dedup_stats — the pushed isNotNull re-ran the md5 transform);
    # spread a single-split scan below it (no-op at corpus scale, §2.5) —
    # the two ch consumers then ReuseExchange-share one scan + shuffle
    ch = spread_small_scan(
        df.where(n > 0).select(
            F.col(id_col), F.col(tokens_col or content_col)
        ),
        id_col,
    ).select(id_col, F.explode(chunks).alias("h"))
    owner = ch.groupBy("h").agg(F.min(F.col(id_col)).alias("owner"))
    if prior_owned is not None:
        # hashes owned by earlier batches precede every current id
        owner = (
            owner.join(prior_owned.select("h").distinct(), "h", "left_anti")
            .unionByName(
                prior_owned.select(
                    "h", F.lit(None).cast(owner.schema["owner"].dataType).alias("owner")
                ).distinct()
            )
        )
    dup = F.when(
        F.col("owner").isNull() | (F.col("owner") < F.col(id_col)), 1
    ).otherwise(0)
    per = (
        ch.join(owner, "h")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_passages"),
            F.sum(dup).alias("n_dup"),
        )
    )
    return (
        df.select(id_col)
        .join(per, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_passages", F.lit(0)).cast("long").alias("n_passages"),
            F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup_passages"),
            (
                2 * F.coalesce("n_dup", F.lit(0))
                <= F.coalesce("n_passages", F.lit(0))
            ).alias("keep"),
        )
    )


def repeated_spans(
    df: DataFrame,
    min_len: int = 50,
    content_col: str = "text",
    id_col: str = "doc_id",
    sample_mod: int = 1,
    exact_verify: bool = True,
    hash_fn=None,
    tokens_col: str | None = None,
) -> DataFrame:
    """Exact substring-duplicate detection (the ExactSubstr pass of Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models Better"):
    find every maximal token span of length ≥ ``min_len`` that occurs ≥ 2
    times ANYWHERE in the corpus (other documents or the same one), as
    (doc_id, span_start, span_end) in 1-based inclusive token positions.

    Construction (their suffix-array step re-expressed shuffle-locally):
    every stride-1 window of ``min_len`` tokens hashes to a 60-bit key; a
    window is duplicated iff its hash occurs ≥ 2 times corpus-wide; a
    document's duplicated windows, merged where they overlap or touch
    (p_next ≤ p_prev + min_len), are exactly its repeated-substring spans.

    Scale shape: the window table is (id, pos, 8-byte hash) — ~24 B per
    corpus token, the price of stride-1 exactness (suffix arrays pay a
    comparable working set); ONE shuffle keyed by hash for the duplicate
    test (map-side partial counts collapse the Zipf head), then a per-doc
    window (partitioned by id — embarrassingly parallel) merges intervals.
    ``sample_mod > 1`` is the cost knob: keep only windows with
    ``hash % sample_mod == 0`` — CONTENT-defined sampling, so both copies
    of a duplicate select the same windows (winnowing-style); detection
    becomes probabilistic for spans near ``min_len`` but the table shrinks
    by the factor. The 60-bit hash is md5-derived for cross-engine oracle
    parity; ``hash_fn`` (text Column → long Column) swaps it — a
    production deployment uses ``xxhash64`` (same shape, cheaper CPU),
    and the adversarial-collision pytest injects a deliberately-colliding
    hash to prove the referee below.

    ``exact_verify`` (default, VERDICT r8 item 4) makes the pass EXACT
    per the Lee-2021 citation instead of
    collision-probabilistic: hash-colliding candidate windows get an
    exact byte-compare referee — the duplicate test becomes "the window
    TEXT occurs ≥ 2 times", not "the 60-bit hash does". Bounded: only
    candidate windows (hash count ≥ 2 — the duplicate mass plus the
    ~n²/2⁶⁰ collision tail) re-derive their text, via ONE per-doc
    aggregated position array joined back to the tokenized docs (the
    candidate-position table is metadata-scale; AQE broadcasts it when
    it fits), so the verify shuffle carries candidate window text only —
    the corpus-wide stride-1 table still moves 24 B/token.
    """
    assert min_len >= 2 and sample_mod >= 1
    # Stride-1 hashing is the dominant CPU term (one md5 per corpus token),
    # so evaluate it exactly once and in parallel:
    # - a small-file scan can arrive as a handful of partitions (locally:
    #   ONE) and serialize the hashing; spread it up front — at corpus
    #   scale the scan is already >= defaultParallelism splits and the
    #   repartition no-ops (no body shuffle added where it would cost);
    # - tokenize into a column FIRST (an expression inside the transform
    #   lambda would re-split the text once per window — measured 3x);
    # - the >=2-occurrence test is a COUNT OVER (PARTITION BY h), not a
    #   count-table semi-join, so the window table is evaluated once and
    #   shuffles once (by h), instead of twice for build + probe.
    par = df.sparkSession.sparkContext.defaultParallelism
    src_col = content_col if tokens_col is None else tokens_col
    base = df.select(F.col(id_col), F.col(src_col))
    if base.rdd.getNumPartitions() < par:
        base = base.repartition(par, F.col(id_col))
    # tokens_col: pre-tokenized array seam (CJK via unicode_tokens — on a
    # space-free script the space split makes a line ONE token, so no
    # window of min_len tokens ever forms and ExactSubstr finds nothing);
    # default keeps the split-on-space fixture-oracle contract.
    toks = (
        F.filter(F.col(tokens_col), lambda x: x != "")
        if tokens_col is not None
        else F.filter(F.split(F.col(content_col), " "), lambda x: x != "")
    )
    base = base.select(F.col(id_col), toks.alias("__tk"))
    n = F.size("__tk")
    if hash_fn is None:
        hash_fn = lambda t: (  # noqa: E731 — 60-bit md5 prefix (oracle twin)
            F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
        )
    win = F.transform(
        F.sequence(F.lit(1), n - (min_len - 1)),
        lambda i: F.struct(
            i.alias("pos"),
            hash_fn(
                F.array_join(F.slice(F.col("__tk"), i, min_len), " ")
            ).alias("h"),
        ),
    )
    # r12: cheap-predicate gate before the projection (see
    # passage_dedup_stats — the pushed isNotNull re-ran the md5 window
    # transform per row); identical rows, ws is null exactly when
    # n < min_len
    w = (
        base.where(n >= min_len)
        .select(F.col(id_col), F.explode(win).alias("w"))
        .select(id_col, F.col("w.pos").alias("pos"), F.col("w.h").alias("h"))
    )
    if sample_mod > 1:
        w = w.where(F.col("h") % sample_mod == 0)
    dup_w = w.withColumn(
        "__c", F.count("*").over(Window.partitionBy("h"))
    ).where("__c >= 2")
    if exact_verify:
        # exact byte-compare referee on the colliding candidates: the
        # per-doc candidate positions ride back to the tokenized docs as
        # ONE aggregated array (metadata per candidate doc), each window's
        # text is re-sliced on the doc's own partition inside a transform
        # (never exploding the token array per window), and the duplicate
        # test recounts over (hash, window TEXT) — a hash collision
        # between two distinct windows can no longer mark either.
        cand_pos = dup_w.groupBy(id_col).agg(
            F.collect_list(F.struct("pos", "h")).alias("__ps")
        )
        wins_txt = F.transform(
            F.col("__ps"),
            lambda p: F.struct(
                p["pos"].alias("pos"),
                p["h"].alias("h"),
                F.array_join(
                    F.slice(F.col("__tk"), p["pos"], min_len), " "
                ).alias("wt"),
            ),
        )
        wt = (
            base.join(cand_pos, id_col)
            .select(F.col(id_col), F.explode(wins_txt).alias("w"))
            .select(
                id_col,
                F.col("w.pos").alias("pos"),
                F.col("w.h").alias("h"),
                F.col("w.wt").alias("wt"),
            )
        )
        dup_w = wt.withColumn(
            "__c", F.count("*").over(Window.partitionBy("h", "wt"))
        ).where("__c >= 2")
    ow = Window.partitionBy(id_col).orderBy("pos")
    flagged = dup_w.withColumn(
        "new_span",
        F.when(
            F.lag("pos").over(ow).isNull()
            | (F.col("pos") > F.lag("pos").over(ow) + min_len),
            1,
        ).otherwise(0),
    ).withColumn(
        "span_id",
        F.sum("new_span").over(ow.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy(id_col, "span_id")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + min_len - 1).cast("long").alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def trim_repeated_spans(
    df: DataFrame,
    spans: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "clean_text",
) -> DataFrame:
    """Apply :func:`repeated_spans` output: rebuild each document's text
    with every repeated span's tokens removed (ALL occurrences — the Lee
    et al. policy; they measure no loss from dropping the surviving copy
    too, and remove-all needs no global ownership pass). Documents with no
    spans pass through unchanged; empty words created by the original
    tokenization stay collapsed (single-space rejoin).

    The spans ride to their document as one aggregated array column
    (groupBy id — metadata-scale: spans per doc, not tokens per doc), and
    the token filter is a native higher-order expression over the split
    array — no UDF, no token-level shuffle; bodies move only on their own
    scan partition."""
    sp = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    toks = F.filter(F.split(F.col(content_col), " "), lambda x: x != "")
    idxed = F.transform(
        toks, lambda x, i: F.struct(x.alias("t"), (i + 1).alias("p"))
    )
    kept = F.filter(
        idxed,
        lambda s: ~F.exists(
            F.col("__spans"),
            lambda b: (s["p"] >= b["span_start"]) & (s["p"] <= b["span_end"]),
        ),
    )
    cleaned = F.array_join(F.transform(kept, lambda s: s["t"]), " ")
    out = (
        df.join(sp, id_col, "left")
        .withColumn(
            out_col,
            F.when(F.col("__spans").isNull(), F.array_join(toks, " ")).otherwise(
                cleaned
            ),
        )
        .withColumn(
            "n_removed_tokens",
            F.when(F.col("__spans").isNull(), F.lit(0))
            .otherwise(F.size(toks) - F.size(kept))
            .cast("long"),
        )
    )
    return out.drop("__spans")


def estimate_jaccard(
    sig: DataFrame,
    pairs: DataFrame,
    num_hashes: int = 16,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """The MinHash Jaccard ESTIMATOR — the step between LSH candidate
    generation and an (expensive) exact verify: for each candidate pair,
    ``Ĵ = #{i : h_i(a) = h_i(b)} / k`` over the ``k`` signature
    components (an unbiased estimate of the true shingle-set Jaccard;
    stderr ≈ sqrt(J(1−J)/k)). Returned as integer parts-per-million —
    engine-exact — so a threshold gate needs no float comparison.

    At 100 TB this is the referee that lets exact Jaccard
    (:mod:`jaccard re-verification <pharmacodi_spark.plans.dedup_q>`)
    run on only the estimator's survivors: the estimate costs two
    broadcast/hash joins of metadata-scale frames (pairs carry 2 ids;
    signatures carry id + k longs — bodies are never touched).
    """
    assert num_hashes >= 1
    a = sig.select(
        F.col(id_col).alias(src),
        *[F.col(f"h{i}").alias(f"__a{i}") for i in range(num_hashes)],
    )
    b = sig.select(
        F.col(id_col).alias(dst),
        *[F.col(f"h{i}").alias(f"__b{i}") for i in range(num_hashes)],
    )
    matches: Column = F.lit(0)
    for i in range(num_hashes):
        matches = matches + (F.col(f"__a{i}") == F.col(f"__b{i}")).cast("int")
    return (
        pairs.join(a, src)
        .join(b, dst)
        .select(src, dst, matches.cast("long").alias("n_equal"))
        .select(
            src,
            dst,
            "n_equal",
            F.expr(f"(n_equal * 1000000) div {int(num_hashes)}")
            .cast("long")
            .alias("est_ppm"),
        )
    )


def dedup_attribution(
    df: DataFrame,
    group_col: str = "source",
    content_col: str = "text",
    id_col: str = "doc_id",
    key: Column | None = None,
) -> DataFrame:
    """Dedup ATTRIBUTION: which origins lose how much to exact dedup — the
    per-source funnel row every curation report carries (a source with a
    high duplicate rate is a crawler trap or a mirror, and its effective
    token contribution is far below its raw size).

    Keeper rule matches :func:`exact_dedup` (min id per md5(content)); a
    duplicate is ATTRIBUTED to the source of the dropped row, so a mirror
    that re-hosts another source's documents shows the loss, not the
    original.  ``key`` (optional Column) swaps the dedup key — e.g. a
    normalized body or a leading-passage prefix (news-style title dedup)
    — while keeping the same keeper/attribution semantics.  Output per
    group: ``rows_in``, ``rows_kept``, ``dup_ppm`` (integer
    parts-per-million, floor).

    Scale shape: one shuffle keyed by the 32-byte key hash carrying
    ``(hash, id, source)`` — never bodies — then one aggregate keyed by
    the domain-cardinality group.
    """
    k = F.md5(key if key is not None else F.col(content_col))
    # hash in the scan projection so only (group, id, 32-byte key) shuffles
    slim = df.select(F.col(group_col), F.col(id_col), k.alias("__k"))
    w = Window.partitionBy("__k").orderBy(F.col(id_col))
    flagged = slim.withColumn("__keep", F.row_number().over(w) == 1)
    return (
        flagged.groupBy(group_col)
        .agg(
            F.count("*").cast("long").alias("rows_in"),
            F.sum(F.col("__keep").cast("int")).cast("long").alias("rows_kept"),
        )
        .select(
            group_col,
            "rows_in",
            "rows_kept",
            F.expr("((rows_in - rows_kept) * 1000000) div rows_in")
            .cast("long")
            .alias("dup_ppm"),
        )
    )


def source_overlap_minhash(
    df: DataFrame,
    group_col: str = "source",
    content_col: str = "text",
    num_hashes: int = 32,
) -> DataFrame:
    """Corpus-level overlap matrix: MinHash-estimated Jaccard similarity
    between the 5-shingle SETS of every pair of origins — the
    are-these-two-sources-mirrors diagnostic (a high off-diagonal entry
    means one "source" largely re-hosts another, and per-source token
    budgets double-count it).

    Single-permutation-per-seed MinHash at GROUP granularity: per
    (group, seed) the min of the seed hash over every shingle the group
    contains (set semantics — duplicated shingles collapse in the min).
    ``est_jaccard_ppm`` = matching seeds · 10⁶ / num_hashes, integer
    floor.  The k seed hashes come from ONE md5 per shingle via the
    two-hash composition ``h_i = (g1 + i·g2) mod 2³²`` (Kirsch &
    Mitzenmacher 2006 — g1/g2 are the digest's first two 32-bit slices);
    hashing cost is independent of k, and md5 (not xxhash64) keeps the
    whole op oracle-expressible.

    Scale shape (100 TB): ONE fact-scale stage — shingle explode feeding
    a groupBy(``group_col``) whose k min-aggregates collapse map-side, so
    the shuffle carries (group, k longs) partial rows; everything after
    (the pair matrix) runs on a groups × k table — pure metadata.  The
    quadratic term is group-pairs, not documents.  The md5-per-shingle
    term dominated the sf1 bench at k=32 (8 digests/shingle, 14.8 s);
    the two-hash scheme is one digest/shingle at any k.
    """
    # shingle+md5 is the dominant CPU term; a small-file scan can arrive as
    # ONE partition and serialize it. Round-robin (NOT by group: only
    # #groups partitions would fill) — min is commutative, so partitioning
    # doesn't affect results; at corpus scale the scan is already split and
    # this no-ops.
    par = df.sparkSession.sparkContext.defaultParallelism
    base = df.select(F.col(group_col), F.col(content_col))
    if base.rdd.getNumPartitions() < par:
        base = base.repartition(par)
    shing = (
        base.select(
            F.col(group_col),
            F.explode(_shingle_col(content_col, 5)).alias("sh"),
        )
        # digest in its own projection: g1/g2 reference it twice, and
        # CollapseProject keeps non-cheap expressions single-evaluated
        .select(
            group_col,
            F.md5(F.concat(F.lit("so:"), F.col("sh"))).alias("m"),
        )
        .select(
            group_col,
            F.conv(F.substring("m", 1, 8), 16, 10).cast("long").alias("g1"),
            F.conv(F.substring("m", 9, 8), 16, 10).cast("long").alias("g2"),
        )
    )
    aggs = [
        F.min((F.col("g1") + F.lit(i) * F.col("g2")) % F.lit(1 << 32)).alias(
            f"h{i}"
        )
        for i in range(num_hashes)
    ]
    sigs = shing.groupBy(group_col).agg(*aggs)
    harr = F.array(*[F.col(f"h{i}") for i in range(num_hashes)])
    # the pair matrix references the signature table TWICE (a/b sides of
    # the self-join); pin the groups × k result — pure metadata — so the
    # fact-scale shingle+hash stage runs once, not per side
    slim = stage_barrier(
        sigs.select(F.col(group_col).alias("g"), harr.alias("hs")),
        name="source-overlap-sigs",
    )
    a, b = slim.alias("a"), slim.alias("b")
    matching = F.aggregate(
        F.zip_with(
            F.col("a.hs"), F.col("b.hs"),
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0).cast("long"),
        lambda acc, m: acc + m,
    )
    return (
        a.join(b, F.col("a.g") < F.col("b.g"))
        .select(
            F.col("a.g").alias("src_a"),
            F.col("b.g").alias("src_b"),
            matching.alias("matching_seeds"),
            F.expr(f"(matching_seeds * 1000000) div {num_hashes}")
            .cast("long")
            .alias("est_jaccard_ppm"),
        )
    )


def soft_dedup_weights(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Soft deduplication: instead of DROPPING duplicates, weight each
    document by the inverse of its exact-duplicate cluster size
    (``weight_ppm = 10⁶ div m``) — the loss-weighting alternative to hard
    dedup (total gradient mass per unique content stays constant, but no
    data is discarded and the sampler needs no drop-list).

    One projection (id, md5 content hash) and one
    ``COUNT OVER (PARTITION BY hash)`` — a single shuffle keyed by the
    hash, bodies never move, no count-table + semi-join double pass.
    Compose with the CC cluster table (``clusters.connected_components``)
    when near-dup clusters should share weight too.
    """
    h = F.md5(F.col(content_col))
    s = df.select(F.col(id_col), h.alias("__h")).withColumn(
        "cluster_size",
        F.count("*").over(Window.partitionBy("__h")).cast("long"),
    )
    return s.select(
        id_col,
        "cluster_size",
        F.expr("(1000000) div cluster_size").cast("long").alias("weight_ppm"),
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    sort_key: str,
    id_col: str = "doc_id",
    window: int = 4,
    dense_global: bool = False,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD'95):
    sort the corpus by a blocking key and emit every pair of rows within
    ``window − 1`` positions — ``(doc_a, doc_b, pos_gap)`` with ``doc_a``
    the LOWER-position row. The classic complement to hash blocking
    (LSH/SimHash buckets): a sliding window over a sort order catches
    near-dups that share a key PREFIX but land in different hash buckets,
    and its candidate count is exactly ``(window−1)·n`` — linear by
    construction, no hot-bucket quadratic term to guard.

    The sort order is ``(sort_key, id)`` — tie-broken, so positions are
    deterministic and the pair set is reproducible cross-engine
    (``id_col`` must be unique: two rows identical in BOTH key and id
    would take arbitrary relative positions in any engine).

    Scale shape (100 TB): positions come from
    :func:`~pharmacodi_spark.operators.keys.surrogate_key` — pass
    ``dense_global=True`` at fact scale for the range-partition +
    offset-fixup path (no single-task global window); the window join is
    then ONE equi-join on position over (id, pos) tuples — bodies never
    shuffle, and the ``window−1`` offset explode is a bounded constant
    fan-out. The position frame feeds BOTH join sides, so it is
    stage-barrier-pinned (the r11 consumed-twice rule): the sort/window
    pass runs once, both sides read the pin (durable under
    ``spark.pharmacodi.barrierDir``, see barrier.py)."""
    assert window >= 2, "window must cover at least adjacent rows"
    from pharmacodi_spark.operators.keys import surrogate_key

    pos = surrogate_key(
        df.select(id_col, sort_key),
        order_by=[sort_key, id_col],
        id_col="__pos",
        dense_global=dense_global,
    ).select(id_col, "__pos")
    pos = stage_barrier(pos, name="snm_positions")
    probes = pos.select(
        F.col(id_col).alias("doc_a"),
        F.explode(
            F.sequence(F.lit(1), F.lit(window - 1))
        ).alias("pos_gap"),
        (F.col("__pos") + F.col("pos_gap")).alias("__pb"),
    )
    right = pos.select(
        F.col(id_col).alias("doc_b"), F.col("__pos").alias("__pb")
    )
    return probes.join(right, "__pb").select(
        "doc_a", "doc_b", F.col("pos_gap").cast("long").alias("pos_gap")
    )
