"""Bloom-filter semi-join prefilter (north star): cut a fact scan down to
probable dim matches with a compact bitmap BEFORE any join machinery runs —
the manual form of the runtime row-level filtering engines apply when a
selective dim side can't broadcast its raw keys but a few-bits-per-key
bitmap fits anywhere.

Spark exposes no public bloom expression (``bloom_filter_agg`` is internal),
so this builds one from public parts: k probe positions per key via
``xxhash64(key, seed)`` mod m — all JVM-side codegen — a bitmap assembled
once from the dim's DISTINCT positions (driver-resident index metadata,
m/8 bytes, exactly like an ANN coarse quantizer), and a filter that ANDs k
single-bit tests against the bitmap literal. False positives pass the
filter (tunable via bits-per-key); false negatives are impossible, so an
optional exact semi-join finish restores exactness on the (already tiny)
candidate set.

Scale notes: the dim-side build shuffles (position) ints bounded by
min(k·|dim|, m); the fact side is a pure narrow filter — no shuffle, no
join state — which is the whole point: at 10⁹ fact rows the prefilter
drops non-matches inside the scan stage, and only survivors reach the
exact semi join's shuffle."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pharmacodi_spark.functions.scalar import int_array_lit, local_df


def build_bloom_bitmap(
    dim: DataFrame,
    key: str,
    n_bits: int = 1 << 20,
    n_hashes: int = 3,
) -> list[int]:
    """Aggregate the dim's k probe positions and pack them into an
    m-bit bitmap as ``m/64`` signed longs (Spark literal-friendly).
    ``n_bits`` must be a power of two; size it at ~10 bits per distinct
    key for a ~1-3% false-positive rate at k=3."""
    if n_bits & (n_bits - 1):
        raise ValueError(f"n_bits must be a power of two, got {n_bits}")
    pos = dim.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col(key), F.lit(i)), F.lit(n_bits))
                    for i in range(n_hashes)
                ]
            )
        ).alias("p")
    ).distinct()
    # aggregate-side pack: OR the bit masks per 64-bit word ON THE
    # EXECUTORS (map-side partial bit_or, then one shuffle of ≤ m/64 word
    # rows), and return everything as ONE collected row. The driver never
    # materializes per-position rows — its memory term is the bitmap
    # itself (m/8 bytes), same as the literal it is about to embed.
    packed = (
        pos.groupBy(F.shiftright("p", 6).cast("int").alias("w"))
        .agg(F.expr("bit_or(shiftleft(1L, cast(p % 64 as int)))").alias("bits"))
        .agg(F.collect_list(F.struct("w", "bits")).alias("wb"))
        .first()
    )
    words = [0] * (n_bits // 64)
    for e in packed.wb:
        words[e.w] = e.bits  # already signed 64-bit longs (LongType-ready)
    return words


def _bit_test(bitmap: Column, key: Column, seed: int, n_bits: int) -> Column:
    p = F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(n_bits))
    # getbit (unlike the shift builtins) takes the bit position as a column
    # and reads the sign bit of a signed long correctly
    word = F.get(bitmap, F.shiftright(p, 6).cast("int"))
    return F.getbit(word, F.pmod(p, F.lit(64))) == 1


def bloom_condition(
    words: list[int], key: Column, n_hashes: int = 3
) -> Column:
    """The membership predicate for a built bitmap: AND of k single-bit
    tests. Reusable against a freshly built or loaded-from-disk bitmap."""
    n_bits = len(words) * 64
    # single-node literal (r12, guide §1.2): F.lit(list) is a CreateArray
    # with one child Literal per word — 16384 children at the default
    # 2^20-bit map, and the tree repeats per probe, so every optimizer
    # rule walked ~n_hashes·16384 nodes per plan build. int_array_lit
    # folds to ONE ArrayData Literal; bit tests are unchanged.
    bitmap = int_array_lit(words)
    cond = None
    for i in range(n_hashes):
        t = _bit_test(bitmap, key, i, n_bits)
        cond = t if cond is None else cond & t
    return cond


def save_bloom_bitmap(
    spark, words: list[int], n_hashes: int, path: str
) -> None:
    """Persist the bitmap as a one-row parquet index artifact next to the
    table it guards — build once at write time, load at probe time (the
    file-level sidecar pattern transactional formats keep in their
    manifests)."""
    local_df(
        spark,
        [(len(words) * 64, n_hashes, words)],
        ["n_bits", "n_hashes", "words"],
        types=["long", "int", "array<long>"],
    ).write.mode("overwrite").parquet(path)


def load_bloom_bitmap(spark, path: str) -> tuple[list[int], int]:
    """Load a persisted bitmap: returns (words, n_hashes)."""
    r = spark.read.parquet(path).first()
    return list(r.words), r.n_hashes


def bloom_prefilter_semi_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    n_bits: int = 1 << 20,
    exact: bool = True,
) -> DataFrame:
    """Semi join fact→dim with a 3-hash bloom prefilter: fact rows failing ANY of
    the k bit tests are dropped inside the scan (guaranteed non-matches);
    with ``exact=True`` the survivors then left-semi join the real dim keys,
    making the result exactly the plain semi join (the equivalence the
    oracle query certifies). ``exact=False`` keeps the approximate
    candidate set — no shuffle at all on the fact side.

    Null fact keys are dropped by the prefilter itself: semi-join semantics
    never match NULL, but ``xxhash64(NULL, seed)`` degenerates to a
    per-seed constant, so without the explicit ``isNotNull`` guard a null
    key could pass all k bit tests and pollute the approximate candidate
    set (harmless in exact mode, contract-breaking in approximate mode)."""
    words = build_bloom_bitmap(dim, dim_key, n_bits, 3)
    cand = fact.where(
        F.col(fact_key).isNotNull()
        & bloom_condition(words, F.col(fact_key), 3)
    )
    if not exact:
        return cand
    keys = dim.select(F.col(dim_key).alias(fact_key)).distinct()
    return cand.join(F.broadcast(keys), fact_key, "left_semi")
