"""The curation cascades: one set of gates, three paths.

- **Batch cascade** (:func:`curation_cascade`; registry rows
  ``curation_pipeline``, ``curation_funnel``, ``curation_select_pipeline``):
  Gopher repetition ∧ unigram surprisal → 13-gram benchmark decontam
  (``doc_id % 97 == 0`` is the eval slice) → count-distinct passage dedup
  → min-id exact dedup → temperature mixture. Each stage's survivor id set
  is a named stage barrier.
- **Batch twin** (:func:`incremental_curation_batch`; registry row
  ``incremental_curation``): the cascade's gates as the stream computes
  them, over the whole corpus in one pass.
- **Stream** (:func:`prepare_curation_state` once per corpus refresh,
  then :func:`curate_stream_batch` per micro-batch, drained by
  :func:`streaming_curation`): the twin's gates against frozen sidecars —
  the unigram LM ``(token, c)`` and the eval 13-gram hash index — plus the
  persisted passage-owner and content-hash indices.

Every gate is one library operator: surprisal is
text/corpus.py::unigram_surprisal (the stream passes the frozen LM; a
token the LM lacks prices as c = 1), 13-gram hashes are
text/cleaning.py::ngram_hash_rows, passage keys are
text/dedup.py::passage_hashes, and the twin and the stream share one
min-id keeper that shuffles only ``(id, md5)``.

Two differences between the cascade and the twin remain, both semantic:

- **Passage dedup.** The cascade drops passages shared by ≥2 DISTINCT
  documents (text/dedup.py::passage_dedup_stats): a document's verdict
  depends on later documents, so no stream can reproduce it. The twin
  and the stream are FIRST-OWNER (passage_first_owner_stats): a passage
  counts as duplicated iff a smaller id among the entrants (or an earlier
  batch) holds it, which depends only on the id-order prefix.
- **Mixture.** Only the cascade samples: the per-source rates depend on
  the FINAL curated counts, a corpus-global quantity — production
  re-samples the curated store per training run
  (operators/sampling.py::temperature_mixture_sample on ``curated/``).

So the cascade is not the stream run on one batch with an empty earlier
view; the twin is.

Stream equivalence contract (pytest-proven in
tests/test_curation_stream.py): if micro-batches arrive as ascending
``doc_id`` ranges (file sources: order by mtime), the final ``curated/``
table is ROW-IDENTICAL to :func:`incremental_curation_batch` run once
over the concatenated corpus. Index rows carry the ``batch_id`` that
wrote them; reads take the strictly-earlier view (``batch_id <
current``) and writes are per-batch-id dynamic partition overwrites — so
a replayed micro-batch recomputes bit-identical verdicts and rewrites
identical state, whatever partial writes the crashed attempt left behind
(the winnow_stream discipline).

State layout under ``base_dir``: ``lm/`` (token, c), ``eval_grams/``
(gh), ``passage_owner/`` (h), ``hash_index/`` (h), ``curated/`` (rows).
All indices are hash/token tables — bodies never re-read, never shuffle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pharmacodi_spark.barrier import stage_barrier
from pharmacodi_spark.io import merge_upsert, path_exists, write_batch_partition
from pharmacodi_spark.operators.sampling import temperature_mixture_sample
from pharmacodi_spark.streaming.ops import drain_foreach_batch
from pharmacodi_spark.text.analysis import repetition_metrics
from pharmacodi_spark.text.cleaning import decontaminate_against, ngram_hash_rows
from pharmacodi_spark.text.corpus import unigram_lm, unigram_surprisal
from pharmacodi_spark.text.dedup import (
    exact_dedup,
    passage_dedup_stats,
    passage_first_owner_stats,
    passage_hashes,
)
from pharmacodi_spark.text.incremental import content_hashes

_MAX_MEAN_CENTIBITS = 2405  # 100 * sum_bits <= 2405 * n_words (mean <= 24.05)
_NGRAM = 13
_WINDOW = 16


def _paths(base_dir: str) -> dict[str, str]:
    return {
        k: os.path.join(base_dir, k)
        for k in ("lm", "eval_grams", "passage_owner", "hash_index", "curated")
    }


def _quality_ids(
    docs: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    lm: DataFrame | None = None,
) -> DataFrame:
    """Ids passing the Gopher repetition gate and the surprisal gate
    (mean <= 24.05 bits against ``lm``, default the frame's own LM)."""
    gop = repetition_metrics(docs, content_col, id_col).where("keep").select(id_col)
    sur = (
        unigram_surprisal(docs, content_col, id_col, lm=lm)
        .where(100 * F.col("sum_bits") <= _MAX_MEAN_CENTIBITS * F.col("n_words"))
        .select(id_col)
    )
    return gop.join(sur, id_col)


def curation_cascade(
    docs: DataFrame,
) -> tuple[list[tuple[str, DataFrame]], DataFrame]:
    """The five-stage batch cascade over a ``(doc_id, text, source)``
    documents frame: quality → decontam → passage dedup (count-distinct)
    → exact dedup → temperature mixture (alpha=0.5, budget 0.5, salt
    'cur'). Returns ``([(stage_name, survivor_id_df), ...], final_df)``.

    Stage boundary discipline (the thing that makes a multi-stage cascade
    survive 100 TB): each stage's SURVIVOR ID SET — metadata-scale, ids
    only — is a named stage barrier (pharmacodi_spark.barrier), and the
    next stage joins a FRESH pruned corpus scan against it. Composing the
    DataFrames lazily instead re-expands every upstream stage at every
    downstream reference: the naive composition compiled to 116 documents
    scans and 44 sort-merge joins; with the id-set barriers it is ~12
    scans, each stage's shuffle keys (id) / (id, gram) / (hash) only, and
    bodies never shuffle. A caller that audits the stages (the funnel)
    re-reads the pinned id sets instead of re-running stages."""
    s1 = stage_barrier(
        _quality_ids(docs).where(F.col("doc_id") % 97 != 0),
        name="curation-s1-quality",
    )
    q1 = docs.join(s1, "doc_id")
    ev = docs.where(F.col("doc_id") % 97 == 0)
    s2 = stage_barrier(
        decontaminate_against(q1, ev, n=_NGRAM)
        .where(~F.col("contaminated"))
        .select("doc_id"),
        name="curation-s2-decontam",
    )
    q2 = docs.join(s2, "doc_id")
    s3 = stage_barrier(
        passage_dedup_stats(q2, window=_WINDOW).where("keep").select("doc_id"),
        name="curation-s3-passage",
    )
    q3 = docs.join(s3, "doc_id")
    s4 = stage_barrier(
        exact_dedup(q3).select("doc_id"), name="curation-s4-exact"
    )
    q4 = docs.join(s4, "doc_id")
    final = temperature_mixture_sample(
        q4.select("doc_id", "source"), "source",
        key_cols=["doc_id"], salt="cur",
    )
    stages = [
        ("quality", s1),
        ("decontam", s2),
        ("passage_dedup", s3),
        ("exact_dedup", s4),
        ("mixture", final.select("doc_id")),
    ]
    return stages, final


def prepare_curation_state(
    spark: SparkSession,
    base_dir: str,
    stats_docs: DataFrame,
    eval_docs: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Phase 1: freeze the corpus LM and the eval-slice gram index."""
    p = _paths(base_dir)
    unigram_lm(stats_docs, content_col, id_col).write.mode("overwrite").parquet(
        p["lm"]
    )
    (
        ngram_hash_rows(eval_docs, content_col, id_col, _NGRAM, None)
        .select("gh")
        .distinct()
        .write.mode("overwrite")
        .parquet(p["eval_grams"])
    )


def _gates_1_to_3(
    new: DataFrame,
    lm: DataFrame,
    eval_grams: DataFrame,
    content_col: str,
    id_col: str,
) -> DataFrame:
    """Pointwise-given-frozen-state gates: repetition ∧ surprisal ∧
    not-contaminated. Returns the entrant id set."""
    contam = (
        ngram_hash_rows(new, content_col, id_col, _NGRAM, None)
        .join(eval_grams, "gh", "left_semi")
        .select(id_col)
        .distinct()
    )
    return _quality_ids(new, content_col, id_col, lm).join(
        contam, id_col, "left_anti"
    )


def _exact_survivors(
    df: DataFrame,
    content_col: str,
    id_col: str,
    seen: DataFrame | None = None,
) -> DataFrame:
    """Rows of ``df`` that keep their content: the min id per content md5,
    minus hashes in ``seen`` (an ``h`` index). Only ``(id, md5)`` shuffles
    for the keeper; the rows join back by id."""
    keeper = (
        df.select(F.col(id_col), F.md5(F.col(content_col)).alias("h"))
        .groupBy("h")
        .agg(F.min(id_col).alias(id_col))
    )
    if seen is not None:
        keeper = keeper.join(seen, "h", "left_anti")
    return df.join(keeper.select(id_col), id_col)


#: read schema for the two index tables — explicit so an index directory
#: whose only batches were empty (no part files) still reads as an empty
#: frame instead of failing schema inference
_INDEX_SCHEMA = "h string, batch_id bigint"


def _strictly_earlier(
    spark: SparkSession, path: str, batch_id: int
) -> DataFrame | None:
    """The index view a micro-batch is allowed to see: rows written by
    STRICTLY earlier batches. Structured Streaming re-delivers a failed
    batch under the SAME batch id, so a replay sees the index exactly as
    the first delivery did — even if the crash happened after some of this
    batch's own index writes landed (the winnow_stream discipline;
    ADVICE r6)."""
    if not path_exists(spark, path):
        return None
    return (
        spark.read.schema(_INDEX_SCHEMA)
        .parquet(path)
        .where(F.col("batch_id") < int(batch_id))
        .select("h")
    )


def _max_batch_id_on_disk(spark: SparkSession, path: str) -> int | None:
    """Highest ``batch_id=N`` partition under an index path (directory
    listing — no Spark job). Returns None for an absent path. Raises on a
    pre-batch-id layout (bare part files, no partition dirs): those index
    directories were written by the old append format and need a one-time
    rewrite into ``batch_id=`` partitions before the stream can resume —
    under ``_INDEX_SCHEMA`` their rows would read as null batch_id and be
    silently filtered out of every strictly-earlier view (ADVICE r7)."""
    from pharmacodi_spark.io import _hadoop_fs

    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    best = None
    legacy_parts = False
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if name.startswith("batch_id="):
            try:
                v = int(name.split("=", 1)[1])
            except ValueError:
                continue
            best = v if best is None else max(best, v)
        elif name.startswith("part-"):
            legacy_parts = True
    if best is None and legacy_parts:
        raise ValueError(
            f"{path} holds a pre-batch-id index layout (bare part files); "
            "rewrite it once into batch_id= partitions before resuming "
            "the stream"
        )
    return best


def curate_stream_batch(
    spark: SparkSession,
    base_dir: str,
    new: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    *,
    batch_id: int,
) -> None:
    """One micro-batch through gates 1-5 against the persisted state; also
    the ``foreachBatch`` body of :func:`streaming_curation`. Idempotent
    under replay: index rows carry the ``batch_id`` that wrote them, reads
    take the strictly-earlier view (so a replayed batch never sees its own
    first-delivery rows — first-owner verdicts recompute bit-identically),
    writes are per-batch-id dynamic partition overwrites (a replay rewrites
    its own partition with identical content), and survivors merge_upsert
    by id. Each state path is gated on ITS OWN existence, so a crash
    between the two index writes cannot wedge a replay.

    ``batch_id`` is required and must be monotone: a direct caller passing
    a stale id (< the max already on disk) would read a partial index view
    and dynamically overwrite a live batch's rows — guarded here
    (ADVICE r7; replays of the CURRENT max are the supported case)."""
    p = _paths(base_dir)
    for idx_path in (p["passage_owner"], p["hash_index"]):
        on_disk = _max_batch_id_on_disk(spark, idx_path)
        if on_disk is not None and int(batch_id) < on_disk:
            raise ValueError(
                f"batch_id={batch_id} is behind the index at {idx_path} "
                f"(max on disk: {on_disk}); replaying an OLD batch would "
                "corrupt the first-owner state — only the latest batch "
                "may be replayed"
            )
    lm = spark.read.parquet(p["lm"])
    eval_grams = spark.read.parquet(p["eval_grams"])
    prior_owned = _strictly_earlier(spark, p["passage_owner"], batch_id)
    hash_index = _strictly_earlier(spark, p["hash_index"], batch_id)

    entrants = _gates_1_to_3(new, lm, eval_grams, content_col, id_col)
    q3 = stage_barrier(new.join(entrants, id_col), name="curation-entrants")

    # stage 4: first-owner passage dedup vs index + within batch
    keep4 = (
        passage_first_owner_stats(
            q3, _WINDOW, content_col, id_col, prior_owned=prior_owned
        )
        .where("keep")
        .select(id_col)
    )
    q4 = q3.join(keep4, id_col)

    # stage 5: exact dedup — min-id keeper within batch, then vs index
    survivors = stage_barrier(
        _exact_survivors(q4, content_col, id_col, hash_index),
        name="curation-survivors",
    )

    # state updates — every entrant claims its passages (accepted or not:
    # the batch twin's owner is the min id among ENTRANTS); content hashes
    # claimed by keepers only
    new_owned = q3.select(
        F.explode(passage_hashes(_WINDOW, content_col)).alias("h")
    ).distinct()
    new_hashes = content_hashes(survivors, content_col, id_col)
    if prior_owned is not None:
        new_owned = new_owned.join(prior_owned, "h", "left_anti")
    if hash_index is not None:
        new_hashes = new_hashes.join(hash_index, "h", "left_anti")
    write_batch_partition(new_owned, p["passage_owner"], batch_id)
    write_batch_partition(new_hashes, p["hash_index"], batch_id)
    merge_upsert(spark, p["curated"], survivors, [id_col])


def streaming_curation(
    stream: DataFrame,
    base_dir: str,
    checkpoint_dir: str,
    content_col: str = "text",
    id_col: str = "doc_id",
):
    """Gates 1-5 under Structured Streaming (drained by
    streaming/ops.py::drain_foreach_batch). Returns the started
    StreamingQuery."""

    def do_batch(batch: DataFrame, batch_id: int) -> None:
        curate_stream_batch(
            batch.sparkSession, base_dir, batch, content_col, id_col,
            batch_id=batch_id,
        )

    return drain_foreach_batch(stream, do_batch, checkpoint_dir)


def incremental_curation_batch(
    spark: SparkSession,
    docs: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The batch twin: gates 1-5 over the whole corpus in one pass, with
    the SAME semantics the stream reproduces — surprisal against the
    corpus's own LM, decontam against the ``doc_id % 97 == 0`` slice,
    first-owner passage dedup, min-id exact dedup. Returns the curated
    rows."""
    lm = unigram_lm(docs, content_col, id_col)
    eval_docs = docs.where(F.col(id_col) % 97 == 0)
    docs = docs.where(F.col(id_col) % 97 != 0)
    eval_grams = (
        ngram_hash_rows(eval_docs, content_col, id_col, _NGRAM, None)
        .select("gh")
        .distinct()
    )
    entrants = _gates_1_to_3(docs, lm, eval_grams, content_col, id_col)
    q3 = stage_barrier(docs.join(entrants, id_col), name="curation-entrants")
    # keep4 is metadata-scale (ids) but its subplan carries the passage
    # chunk-hash pass; q4 is consumed twice (keeper build + final join),
    # so unpinned this evaluated the passage stats TWICE (r13 profile:
    # two twin 3.7s-cpu chunk-md5 stages). Pin the id set once.
    keep4 = stage_barrier(
        passage_first_owner_stats(q3, _WINDOW, content_col, id_col)
        .where("keep")
        .select(id_col),
        name="curation-passage-keepers",
    )
    return _exact_survivors(q3.join(keep4, id_col), content_col, id_col)
