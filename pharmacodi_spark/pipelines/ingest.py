"""Incremental dedup → upsert: the corpus-ingest pipeline composed
end-to-end (north star; no reference twin — the reference ingests PSets
batch-wise, ref PharmacoDI/scripts/build_all.py, and never dedups text).

Per incoming batch of documents:

1. **exact**: self-dedup (min-id keeper per content) then anti-join the
   corpus CONTENT-HASH index (text/incremental.py::incremental_exact_dedup)
   — corpus text is never re-read, the join key is a 32-byte md5;
2. **within-batch near-dup**: MinHash-LSH band pairs among the batch's
   survivors → connected components → every component member but the
   minimum id drops (text/dedup.py::pairs_from_cells +
   text/clusters.py::connected_components);
3. **cross-corpus near-dup**: any LSH band landing in an occupied corpus
   cell flags the doc (text/incremental.py::incremental_near_dup_flags);
   ``policy='drop'`` removes flagged docs, ``policy='flag'`` keeps them
   with a ``near_dup_candidate`` marker for a downstream referee;
4. **upsert**: survivors merge into the corpus table keyed by id
   (io.py::merge_upsert — idempotent on micro-batch replay), and the two
   compact indices (hashes; (band, bucket) cells) extend by the survivors
   only.

Stage shape of one :func:`ingest_batch`: each stage is materialized once,
as a named ``stage_barrier`` pin, and every later stage reads the pin:

- ``ingest-exact``: the step-1 survivors (full rows, batch-bounded);
- ``ingest-cells``: their (id, band, bucket) LSH cells — the ONE signature
  pass; steps 2 and 3 and the bucket-index append all read it;
- ``cc-edges0``: the within-batch pair graph, which a batch-sized graph
  collects and labels on the driver (text/clusters.py);
- ``ingest-survivors``: the accepted rows, read by the corpus upsert and
  both index appends.

The two index tables are read with declared schemas, so neither read runs
a parquet footer-inference job. Measured on the ``incremental_ingest``
benchmark (500 documents in two batches, local[4]): 20.5 Spark jobs per
batch (16 for the batch that builds the state, 25 for one that merges into
it), down from 37.5 when each stage re-ran its upstream shuffles and the
pair graph went through the distributed CC loop.

State layout under ``base_dir``: ``corpus/`` (full rows), ``hash_index/``
(one md5 per doc ever accepted), ``bucket_index/`` (distinct LSH cells).
Indices are O(corpus) but tiny (≤ 40 bytes/doc); every ingest shuffle
carries ids/hashes, never document bodies — the 100 TB-safe shape.

``streaming_ingest`` runs the same batch function under Structured
Streaming via ``foreachBatch`` with checkpointing: effectively-once corpus
maintenance (replayed micro-batches re-merge idempotently; index appends
are guarded by an anti-join against the current index so replays don't
duplicate cells). Batch/stream equivalence + replay are pytest-proven in
tests/test_ingest_pipeline.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pharmacodi_spark.barrier import stage_barrier
from pharmacodi_spark.io import merge_upsert, path_exists
from pharmacodi_spark.streaming.ops import drain_foreach_batch
from pharmacodi_spark.text.clusters import connected_components
from pharmacodi_spark.text.dedup import (
    band_cells,
    exact_dedup,
    minhash_signatures,
    pairs_from_cells,
)
from pharmacodi_spark.text.incremental import (
    band_buckets,
    content_hashes,
    incremental_exact_dedup,
    incremental_near_dup_flags,
)

_LSH = dict(num_hashes=16, bands=4, shingle_len=5)

# the two engine-owned index tables: read with their declared schemas, so
# no scan pays a parquet footer-inference job (the corpus table is NOT
# read this way: its columns are the caller's)
_HASH_SCHEMA = "h STRING"
_BUCKET_SCHEMA = "band INT, bucket BIGINT"


def _dedup_stages(
    new: DataFrame,
    corpus_hashes: DataFrame | None,
    corpus_buckets: DataFrame | None,
    content_col: str,
    id_col: str,
    policy: str,
    **lsh,
) -> tuple[DataFrame, DataFrame]:
    """Steps 1-3 of :func:`dedup_batch`, plus the pinned (id, band, bucket)
    cells of the exact survivors — a superset of the accepted rows' cells,
    which :func:`ingest_batch` semi-joins into its bucket-index append."""
    if policy not in ("drop", "flag"):
        raise ValueError(f"policy must be 'drop' or 'flag', got {policy!r}")
    lsh = {**_LSH, **lsh}

    # 1. exact, within batch then vs corpus index. Pinned: the signature
    # pass and the step-2/3 anti-joins all read it, and unpinned each
    # re-ran the keeper-window shuffle (one of them hidden in
    # spread_small_scan's partition-count peek, which executes upstream
    # shuffle stages under AQE)
    if corpus_hashes is not None:
        survivors = incremental_exact_dedup(new, corpus_hashes, content_col, id_col)
    else:
        survivors = exact_dedup(new, content_col, id_col)
    survivors = stage_barrier(survivors, name="ingest-exact")

    # ONE signature pass feeds both LSH stages: the shingle+hash subplan is
    # the expensive term, and steps 2 and 3 otherwise each re-run it.
    # Pinned cells are bounded: |batch| × bands rows of (id, 2 longs).
    sig = minhash_signatures(
        survivors, content_col, id_col, lsh["num_hashes"], lsh["shingle_len"]
    )
    cells = stage_barrier(
        band_cells(sig, id_col, lsh["num_hashes"], lsh["bands"]),
        name="ingest-cells",
    )

    # 2. within-batch near-dup: pairs → components → min-id keeper. The
    # dropped ids are the non-minimum members of each component; ids with
    # no pair are singletons and keep themselves.
    pairs = pairs_from_cells(cells, id_col)
    comp = connected_components(pairs, edges_canonical=True)
    dropped = comp.where(F.col("node") != F.col("component"))
    survivors = survivors.join(
        dropped.select(F.col("node").alias(id_col)), id_col, "left_anti"
    )

    # 3. cross-corpus near-dup candidates: a doc is one iff any of its
    # cells is occupied in the corpus; the cells of every survivor are in
    # ``cells`` (signatures depend only on text). The hit ids are at most
    # one batch: broadcast them rather than shuffle both sides.
    if corpus_buckets is None:
        if policy == "flag":
            survivors = survivors.withColumn("near_dup_candidate", F.lit(False))
    elif policy == "drop":
        hits = cells.join(corpus_buckets, ["band", "bucket"], "left_semi")
        survivors = survivors.join(
            F.broadcast(hits.select(id_col)), id_col, "left_anti"
        )
    else:
        flags = incremental_near_dup_flags(
            survivors,
            corpus_buckets,
            content_col,
            id_col,
            cells=cells.join(survivors.select(id_col), id_col, "left_semi"),
            **lsh,
        )
        survivors = survivors.join(flags, id_col, "left")
    return survivors, cells


def dedup_batch(
    new: DataFrame,
    corpus_hashes: DataFrame | None = None,
    corpus_buckets: DataFrame | None = None,
    content_col: str = "text",
    id_col: str = "doc_id",
    policy: str = "drop",
    **lsh,
) -> DataFrame:
    """Steps 1-3: the batch's accepted rows (plus ``near_dup_candidate``
    under ``policy='flag'``). No state I/O; pins two batch-bounded stages
    (exact survivors, LSH cells) on the way."""
    return _dedup_stages(
        new, corpus_hashes, corpus_buckets, content_col, id_col, policy, **lsh
    )[0]


def _state_paths(base_dir: str) -> tuple[str, str, str]:
    return (
        os.path.join(base_dir, "corpus"),
        os.path.join(base_dir, "hash_index"),
        os.path.join(base_dir, "bucket_index"),
    )


def ingest_batch(
    spark: SparkSession,
    base_dir: str,
    new: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    **lsh,
) -> None:
    """One full ingest round against the on-disk corpus state (steps 1-4).
    Also the ``foreachBatch`` body of ``streaming_ingest`` — idempotent
    under micro-batch replay: merge_upsert re-merges the same keys, and
    index appends anti-join the current index first."""
    corpus_path, hash_path, bucket_path = _state_paths(base_dir)
    have_corpus = path_exists(spark, corpus_path)
    hashes = buckets = None
    if have_corpus:
        hashes = spark.read.schema(_HASH_SCHEMA).parquet(hash_path)
        buckets = spark.read.schema(_BUCKET_SCHEMA).parquet(bucket_path)

    survivors, cells = _dedup_stages(
        new, hashes, buckets, content_col, id_col, policy="drop", **lsh
    )
    # three consumers (corpus write + two index writes): materialize once,
    # bounded by batch size
    survivors = stage_barrier(survivors, name="ingest-survivors")

    new_hashes = content_hashes(survivors, content_col, id_col)
    # the survivors' cells are already pinned: no second signature pass
    new_cells = (
        cells.join(F.broadcast(survivors.select(id_col)), id_col, "left_semi")
        .select("band", "bucket")
        .distinct()
    )
    if have_corpus:
        merge_upsert(spark, corpus_path, survivors, [id_col])
        # replay-safe compact indices: only genuinely new entries append
        new_hashes = new_hashes.join(hashes, "h", "left_anti")
        new_cells = new_cells.join(buckets, ["band", "bucket"], "left_anti")
        new_hashes.write.mode("append").parquet(hash_path)
        new_cells.write.mode("append").parquet(bucket_path)
    else:
        survivors.write.parquet(corpus_path)
        new_hashes.write.parquet(hash_path)
        new_cells.write.parquet(bucket_path)


def streaming_ingest(
    stream: DataFrame,
    base_dir: str,
    checkpoint_dir: str,
    content_col: str = "text",
    id_col: str = "doc_id",
    **lsh,
):
    """Steps 1-4 under Structured Streaming: each micro-batch runs the full
    dedup gauntlet against the CURRENT corpus state, then upserts. Returns
    the started StreamingQuery (streaming/ops.py::drain_foreach_batch —
    drain-the-backlog semantics)."""

    def do_ingest(batch: DataFrame, _batch_id: int) -> None:
        ingest_batch(
            batch.sparkSession, base_dir, batch, content_col, id_col, **lsh
        )

    return drain_foreach_batch(stream, do_ingest, checkpoint_dir)


def reprocess_snapshot(
    spark: SparkSession,
    base_dir: str,
    new_snapshot: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    **lsh,
) -> dict[str, int]:
    """Snapshot-to-snapshot corpus maintenance: diff the incoming crawl
    against the CURRENT corpus, retire what disappeared, and run only the
    genuinely new/changed documents through the ingest gauntlet —
    ``text/incremental.py::corpus_diff`` deciding the work instead of a
    full re-ingest.

    Steps:

    1. ``corpus_diff(corpus, new_snapshot)`` → added / removed / changed /
       unchanged (both sides collapse to (id, hash) at the scan);
    2. RETIRE ``removed ∪ changed`` ids: the corpus table rewrites minus
       those ids, and the two compact indices REBUILD from the surviving
       rows — hashes and LSH cells can be shared across documents, so
       per-row deletion from a distinct-valued index would corrupt dedup
       state; the rebuild scans survivors once and shuffles only
       ids/hashes, never bodies (at cluster scale: partition the corpus
       table and this rewrite prunes to touched partitions);
    3. INGEST ``added ∪ changed`` (their new text) through
       :func:`ingest_batch` — the full exact + near-dup gauntlet against
       the post-retirement state.

    Replay-idempotent by construction: re-running with the same snapshot
    diffs everything ``unchanged`` (step 1 yields no work).  Returns the
    per-status counts for the maintenance report.
    """
    corpus_path, hash_path, bucket_path = _state_paths(base_dir)
    assert path_exists(spark, corpus_path), "bootstrap with ingest_batch first"
    from pharmacodi_spark.text.incremental import corpus_diff

    corpus = spark.read.parquet(corpus_path)
    diff = corpus_diff(corpus, new_snapshot, content_col, id_col)
    diff = stage_barrier(diff, name="reprocess-diff")  # consumed 3x; id+status only
    counts = {
        r["status"]: r["n"]
        for r in diff.groupBy("status").agg(F.count("*").alias("n")).collect()
    }

    retire = diff.where(F.col("status").isin("removed", "changed")).select(id_col)
    if counts.get("removed", 0) or counts.get("changed", 0):
        _retire_ids(spark, base_dir, retire, content_col, id_col, **lsh)

    todo = new_snapshot.join(
        diff.where(F.col("status").isin("added", "changed")).select(id_col),
        id_col,
    )
    if counts.get("added", 0) or counts.get("changed", 0):
        ingest_batch(spark, base_dir, todo, content_col, id_col, **lsh)
    return counts


def _retire_ids(
    spark: SparkSession,
    base_dir: str,
    ids: DataFrame,
    content_col: str,
    id_col: str,
    **lsh,
) -> None:
    """Drop ``ids`` from the corpus table and REBUILD both compact indices
    from the survivors (hashes / LSH cells can be shared across documents,
    so per-row index deletion would corrupt dedup state). The survivor
    frame is ``stage_barrier``-pinned because Spark cannot overwrite
    files still feeding the running plan; the rewrite shuffles ids/hashes,
    never bodies (at cluster scale the corpus table is partitioned and the
    rewrite prunes to touched partitions)."""
    corpus_path, hash_path, bucket_path = _state_paths(base_dir)
    corpus = spark.read.parquet(corpus_path)
    survivors = stage_barrier(
        corpus.join(ids.select(id_col), id_col, "left_anti"), name="retire-survivors"
    )
    survivors.write.mode("overwrite").parquet(corpus_path)
    content_hashes(survivors, content_col, id_col).write.mode(
        "overwrite"
    ).parquet(hash_path)
    band_buckets(survivors, content_col, id_col, **lsh).write.mode(
        "overwrite"
    ).parquet(bucket_path)


def _run_paths(run_dir: str) -> tuple[str, str]:
    return f"{run_dir}/seen_ids", f"{run_dir}/quarantine"


def reprocess_stream_batch(
    spark: SparkSession,
    base_dir: str,
    run_dir: str,
    batch: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    **lsh,
) -> None:
    """One micro-batch of the streaming snapshot reprocess (the
    ``foreachBatch`` body of :func:`streaming_reprocess`). The snapshot
    arrives in shards, so only the shard-local part of the diff is
    decidable here:

    1. diff THIS SHARD's ids against the live corpus (``corpus_diff``
       restricted to the shard — corpus-only ids are "not in this shard",
       not "removed"; removal is a whole-snapshot fact owned by
       :func:`finalize_reprocess`);
    2. ``changed`` ids retire immediately (corpus rewrite + index rebuild
       from survivors), exactly as the batch path does;
    3. ``added ∪ changed`` rows split on corpus collision: rows whose md5
       is already in the hash index, or whose LSH band lands in an
       occupied corpus cell, go to the run's ``quarantine`` table (keyed
       upsert — their collision partner may be retired by a LATER shard or
       by finalize, the "content moved to a new id" crawl case); the rest
       run the normal ingest gauntlet;
    4. the shard's ids append to the run's ``seen_ids`` index (anti-join
       guarded, so micro-batch replay is a no-op).

    Replay-idempotent: on replay, previously ingested rows diff as
    ``unchanged`` (no work), quarantined rows re-upsert by id, and the
    seen append anti-joins the current index. Every shuffle here carries
    ids/hashes — bodies only move into the corpus write itself."""
    corpus_path, hash_path, bucket_path = _state_paths(base_dir)
    assert path_exists(spark, corpus_path), "bootstrap with ingest_batch first"
    from pharmacodi_spark.text.incremental import corpus_diff

    lsh = {**_LSH, **lsh}
    seen_path, quarantine_path = _run_paths(run_dir)

    corpus = spark.read.parquet(corpus_path)
    # consumed 3x; id+status only, shard-bounded
    diff = stage_barrier(
        corpus_diff(corpus, batch, content_col, id_col).where(
            F.col("status") != "removed"
        ),
        name="shard-diff",
    )
    counts = {
        r["status"]: r["n"]
        for r in diff.groupBy("status").agg(F.count("*").alias("n")).collect()
    }

    if counts.get("changed", 0):
        _retire_ids(
            spark,
            base_dir,
            diff.where(F.col("status") == "changed"),
            content_col,
            id_col,
            **lsh,
        )

    if counts.get("added", 0) or counts.get("changed", 0):
        # read against pre- and post-ingest state below
        todo = stage_barrier(
            batch.join(
                diff.where(F.col("status").isin("added", "changed")).select(id_col),
                id_col,
            ),
            name="shard-todo",
        )
        # corpus-collision split against the POST-retirement indices
        hashes = spark.read.schema(_HASH_SCHEMA).parquet(hash_path)
        buckets = spark.read.schema(_BUCKET_SCHEMA).parquet(bucket_path)
        exact_hit = (
            todo.select(id_col, F.md5(F.col(content_col)).alias("h"))
            .join(hashes, "h", "left_semi")
            .select(id_col)
        )
        near_hit = (
            incremental_near_dup_flags(todo, buckets, content_col, id_col, **lsh)
            .where(F.col("near_dup_candidate"))
            .select(id_col)
        )
        colliders = stage_barrier(
            exact_hit.unionByName(near_hit).distinct(), name="shard-colliders"
        )
        quarantine = todo.join(colliders, id_col, "left_semi")
        clean = todo.join(colliders, id_col, "left_anti")
        if not quarantine.isEmpty():
            merge_upsert(spark, quarantine_path, quarantine, [id_col])
        if not clean.isEmpty():
            ingest_batch(spark, base_dir, clean, content_col, id_col, **lsh)

    ids = batch.select(id_col).distinct()
    if path_exists(spark, seen_path):
        seen = spark.read.parquet(seen_path)
        stage_barrier(
            ids.join(seen, id_col, "left_anti"), name="shard-seen"
        ).write.mode("append").parquet(seen_path)
    else:
        ids.write.parquet(seen_path)


def streaming_reprocess(
    stream: DataFrame,
    base_dir: str,
    run_dir: str,
    checkpoint_dir: str,
    content_col: str = "text",
    id_col: str = "doc_id",
    **lsh,
):
    """Streaming twin of :func:`reprocess_snapshot`: the new crawl snapshot
    arrives as a stream of shards; each micro-batch runs the shard-local
    diff-and-ingest (:func:`reprocess_stream_batch`) against the LIVE
    corpus, and :func:`finalize_reprocess` — called once the query drains —
    settles the whole-snapshot facts (retire never-seen ids, re-try
    quarantined collisions). ``run_dir`` is per-snapshot scratch with the
    same lifecycle as ``checkpoint_dir``.

    Equivalence contract (pytest-proven in tests/test_ingest_pipeline.py):
    after finalize, corpus + indices match the batch
    :func:`reprocess_snapshot` of the assembled snapshot — including the
    moved-content case (incoming doc colliding with content the snapshot
    retires), which converges via the quarantine re-try. The one
    arrival-order caveat is near-dup KEEPER IDENTITY across shards: the
    batch path keeps the min-id member of a near-dup cluster, a stream
    keeps the first-arrived (same contract as :func:`streaming_ingest`);
    ids-and-hashes equality holds whenever shards arrive in id order or
    incoming near-dup clusters don't straddle shards."""

    def do_batch(batch: DataFrame, _batch_id: int) -> None:
        reprocess_stream_batch(
            batch.sparkSession, base_dir, run_dir, batch, content_col, id_col, **lsh
        )

    return drain_foreach_batch(stream, do_batch, checkpoint_dir)


def finalize_reprocess(
    spark: SparkSession,
    base_dir: str,
    run_dir: str,
    content_col: str = "text",
    id_col: str = "doc_id",
    **lsh,
) -> dict[str, int]:
    """Whole-snapshot settlement after the reprocess stream drains:

    1. RETIRE corpus ids never seen in any shard (the snapshot's
       ``removed`` set — only now decidable);
    2. re-run the run's quarantine through the ingest gauntlet against the
       post-retirement state: a doc that collided only with now-retired
       content enters; one colliding with surviving content drops again;
    3. empty the quarantine (schema-preserving zero-row overwrite).

    Idempotent: after one finalize every corpus id is ∈ seen_ids (old
    survivors appeared in a shard; new entrants arrived in one), so a
    second call retires nothing and finds an empty quarantine. Returns the
    maintenance counts ``{"removed": n, "requeued": n}``."""
    corpus_path, _, _ = _state_paths(base_dir)
    seen_path, quarantine_path = _run_paths(run_dir)
    assert path_exists(spark, seen_path), "run the reprocess stream first"
    lsh = {**_LSH, **lsh}

    corpus = spark.read.parquet(corpus_path)
    seen = spark.read.parquet(seen_path)
    removed = stage_barrier(
        corpus.select(id_col).join(seen, id_col, "left_anti"),
        name="finalize-removed",
    )
    n_removed = removed.count()
    if n_removed:
        _retire_ids(spark, base_dir, removed, content_col, id_col, **lsh)

    n_requeued = 0
    if path_exists(spark, quarantine_path):
        quarantine = stage_barrier(
            spark.read.parquet(quarantine_path), name="finalize-quarantine"
        )
        n_requeued = quarantine.count()
        if n_requeued:
            ingest_batch(spark, base_dir, quarantine, content_col, id_col, **lsh)
            quarantine.limit(0).write.mode("overwrite").parquet(quarantine_path)
    return {"removed": n_removed, "requeued": n_requeued}
