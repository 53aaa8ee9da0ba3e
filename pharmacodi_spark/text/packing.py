"""Sequence packing (north star): assign documents to fixed-length training
examples by concatenating the token stream in a deterministic document
order and cutting every ``seq_len`` tokens — the standard pretraining
"pack then split" layout (each doc knows which example(s) it lands in,
including straddles).

The core is a GLOBAL token-offset prefix sum. A naive
``sum().over(Window.orderBy(id))`` is a single-task window — the classic
driver-shaped bottleneck at corpus scale. Instead this reuses the
fact-scale surrogate-id topology (operators/keys.py::surrogate_key,
SURVEY §7.3): range-partition by the order key, per-partition partial
sums, ONE broadcast-sized offsets table (#partitions rows), then a
partition-local cumulative window — every stage parallel, shuffle rows
carry (id, count) only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def token_offsets(
    df: DataFrame,
    count_col: str = "n_tokens",
    id_col: str = "doc_id",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Add ``token_start`` — the exclusive prefix sum of ``count_col`` in
    ``order_cols`` order (default: ``id_col``) — without a global
    single-task window. The input is one row per document; the order key
    must be a total order (callers append ``id_col`` as a tie-break when
    ordering by a derived key).

    The stage barrier mirrors surrogate_key's correctness note: the tagged
    frame feeds both the per-partition totals and the final assignment;
    repartitionByRange re-samples boundaries per evaluation, so the
    materialization pins ONE partition assignment. Under
    ``spark.pharmacodi.barrierDir`` (pharmacodi_spark.barrier) the pin is
    written to scratch storage so it survives executor loss on
    preemptible clusters."""
    from pharmacodi_spark.barrier import stage_barrier

    order_cols = [id_col] if order_cols is None else list(order_cols)
    n = df.sparkSession.sparkContext.defaultParallelism
    tagged = stage_barrier(
        df.repartitionByRange(n, *[F.asc(c) for c in order_cols])
        .sortWithinPartitions(*[F.asc(c) for c in order_cols])
        .select("*", F.monotonically_increasing_id().alias("__mid")),
        name="token-offsets-tagged",
    )
    pid = F.shiftrightunsigned("__mid", 33)
    totals = tagged.groupBy(pid.alias("__pid")).agg(
        F.sum(count_col).alias("__tot")
    )
    w = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__pid", F.coalesce(F.sum("__tot").over(w), F.lit(0)).alias("__off")
    )
    wl = Window.partitionBy("__pid").orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        tagged.withColumn("__pid", pid)
        .join(F.broadcast(offsets), "__pid")
        .withColumn(
            "token_start",
            (F.col("__off") + F.coalesce(F.sum(count_col).over(wl), F.lit(0))).cast(
                "long"
            ),
        )
        .drop("__pid", "__off", "__mid")
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    count_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_tokens, token_start, first_example, last_example, n_examples):
    which fixed-length training example(s) each document occupies when the
    corpus token stream is packed in ``id_col`` order and cut every
    ``seq_len`` tokens. A document straddling a cut spans
    ``n_examples > 1``. Empty documents occupy zero examples
    (first == last == the example their offset falls in, n_examples = 0
    tokens contributed — flagged via n_tokens)."""
    assert seq_len == int(seq_len) and seq_len >= 1
    seq_len = int(seq_len)
    out = token_offsets(df, count_col, id_col)
    start = F.col("token_start")
    cnt = F.col(count_col)
    # Integer `div` everywhere (same ~1e14-offset ulp hazard as
    # shuffle_shards): floor(double /) can land one example off.
    first = F.expr(f"token_start div {seq_len}").cast("long")
    last = F.expr(
        f"(token_start + greatest({count_col}, 1) - 1) div {seq_len}"
    ).cast("long")
    return out.select(
        id_col,
        cnt.cast("long").alias(count_col),
        start,
        first.alias("first_example"),
        last.alias("last_example"),
        (last - first + 1).cast("long").alias("n_examples"),
    )


def _md5_long(col) -> F.Column:
    """60-bit integer hash from md5 hex — cross-engine deterministic
    (the hash_sample draw, plans/queries.py::_md5_long)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def shuffle_shards(
    df: DataFrame,
    shard_bytes: int,
    size_col: str = "n_chars",
    id_col: str = "doc_id",
    salt: str = "shuf",
) -> DataFrame:
    """Deterministic global training shuffle + byte-budget shard layout.

    Two things a pretraining writer needs at 100 TB, in one pass:

    - **order**: documents are re-sequenced by ``md5(salt || id)`` — a
      reproducible corpus-wide permutation (same salt ⇒ same epoch order
      on any cluster size; change the salt to re-shuffle per epoch), so
      adjacent source documents never land in the same training window;
    - **placement**: the exclusive prefix sum of ``size_col`` in that
      order, cut every ``shard_bytes``, assigns each document its output
      shard — shards land within one document's size of the target, so
      writers produce uniform files instead of source-skewed ones.

    The prefix sum rides :func:`token_offsets`' range-partition topology
    (per-partition partials + one broadcast offsets table) — no
    single-task window, shuffle rows carry (id, key, size) only.
    Documents larger than ``shard_bytes`` keep ``shard_id`` of their
    start (the writer's split-oversize concern, same straddle semantics
    as :func:`pack_sequences`).
    """
    assert shard_bytes == int(shard_bytes) and shard_bytes >= 1
    keyed = df.select(
        F.col(id_col),
        F.col(size_col),
        _md5_long(F.concat(F.lit(salt), F.col(id_col).cast("string"))).alias(
            "shuffle_key"
        ),
    )
    out = token_offsets(
        keyed, count_col=size_col, id_col=id_col,
        order_cols=["shuffle_key", id_col],
    )
    return out.select(
        F.col(id_col),
        F.col("shuffle_key"),
        F.col(size_col).cast("long").alias("n_bytes"),
        F.col("token_start").alias("byte_start"),
        # Integer `div`, not floor(double /): at ~1e14 byte offsets a
        # double quotient within 1 ulp of an integer can floor into the
        # wrong shard for non-power-of-two budgets; div matches the
        # oracle's integer `//` exactly at any magnitude.
        F.expr(f"token_start div {int(shard_bytes)}").cast("long").alias("shard_id"),
    )


def length_buckets(
    df: DataFrame,
    max_len: int | None = None,
    content_col: str = "text",
) -> DataFrame:
    """Padding-efficiency audit for length-bucketed batching: assign every
    document to the next power-of-two token-length bucket (the standard
    dynamic-batching binning) and measure what fixed-shape batches would
    waste on padding.

    Per bucket: ``bucket_len`` (the padded sequence length), ``n_docs``,
    ``n_tokens``, ``pad_tokens`` = ``n_docs·bucket_len − n_tokens``, and
    integer-percent ``efficiency_pct`` = ``(100·n_tokens) div
    (n_docs·bucket_len)``.  ``max_len`` (optional) truncates: lengths are
    clamped before binning, modelling a model-context cap.

    The bucket index is exact integer math — next power of two ≥ n is
    ``1 << length(bin(n−1))`` for n ≥ 2 (and 1 for n ≤ 1) — so Spark and
    the SQL oracle agree bit-for-bit.  Scale shape: per-row native
    expressions, then ONE aggregate keyed by bucket (≤ ~40 distinct
    buckets for any real corpus); no explode, no fact-scale shuffle.
    """
    n = F.size(F.filter(F.split(F.col(content_col), " "), lambda x: x != ""))
    n = n.cast("long")
    if max_len is not None:
        n = F.least(n, F.lit(int(max_len)).cast("long"))
    bucket = F.when(n <= 1, F.lit(1).cast("long")).otherwise(
        F.call_function(
            "shiftleft", F.lit(1).cast("long"), F.length(F.bin(n - 1)).cast("int")
        )
    )
    return (
        df.select(bucket.alias("bucket_len"), n.alias("__n"))
        .groupBy("bucket_len")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("__n").cast("long").alias("n_tokens"),
        )
        .select(
            "bucket_len",
            "n_docs",
            "n_tokens",
            (F.col("n_docs") * F.col("bucket_len") - F.col("n_tokens"))
            .cast("long")
            .alias("pad_tokens"),
            F.expr("(100 * n_tokens) div (n_docs * bucket_len)")
            .cast("long")
            .alias("efficiency_pct"),
        )
    )


def shard_manifest(
    shards: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-shard write-validation manifest from a :func:`shuffle_shards`
    layout: ``(shard_id, n_docs, n_bytes, first_byte, id_xor, key_xor)``.

    The production writer emits this table IN THE SAME PASS as the shard
    files; a reader (or the next pipeline stage) recomputes it from what
    it actually read and diffs — a missing file, a truncated write, or a
    double-delivered document surfaces as a count/xor mismatch without
    re-reading bodies. XORs are order-insensitive (safe to recompute in
    any partition order) and 60-bit, so collisions need ~2^30 corrupted
    rows to cancel. One aggregation keyed by ``shard_id`` — counts and
    checksums collapse map-side; output rows = #shards (metadata-scale).
    """
    # id_col is interpolated into F.expr SQL — refuse non-identifier names
    # (the same guard analysis.py::lang_confusion uses; ADVICE r6)
    assert id_col.isidentifier(), id_col
    return shards.groupBy("shard_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_bytes").cast("long").alias("n_bytes"),
        F.min("byte_start").cast("long").alias("first_byte"),
        F.expr(f"bit_xor({id_col})").cast("long").alias("id_xor"),
        F.expr("bit_xor(shuffle_key)").cast("long").alias("key_xor"),
    )
