"""pipelines/ingest.py — incremental dedup composed into the upsert sink.

Round-3 gap (VERDICT r3 item 4): the pieces (incremental flags, droplist,
upsert) were each green but never composed. These tests drive the E2E
composition: known dup structure through batch ingest, stream ingest over
the same micro-batches matching batch-sequential ingest exactly, and
idempotence under forced micro-batch replay.
"""

from __future__ import annotations

import pytest

# multi-second E2E / streaming-equivalence module: default-deselected (pytest.ini),
# included in CI mode with -m ""
pytestmark = pytest.mark.slow

import os
import time

from pyspark.sql import functions as F

from pharmacodi_spark.pipelines.ingest import (
    dedup_batch,
    ingest_batch,
    streaming_ingest,
)

# cyclic texts: repeating the same 5-word cycle yields the SAME 5-gram
# shingle set regardless of repeat count → identical MinHash signatures →
# guaranteed LSH candidates (deterministic near-dups, not probabilistic),
# while the raw strings differ (so they are NOT exact dups)
_CYC = "alpha beta gamma delta epsilon "
T_A = (_CYC * 5).strip()
T_B = (_CYC * 6).strip()   # near-dup of T_A (same shingle set)
T_C = (_CYC * 7).strip()   # near-dup of T_A, arrives in batch 2
T_X = " ".join(f"w{i}" for i in range(30))       # unrelated
T_Y = " ".join(f"z{i} q{i}" for i in range(15))  # unrelated, batch 2

BATCH1 = [(1, T_A), (2, T_X), (3, T_A), (4, T_B)]
BATCH2 = [(5, T_X), (6, T_C), (7, T_Y)]
SCHEMA = "doc_id long, text string"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_dedup_batch_composition(spark):
    """Batch 1 alone: 3 is an exact self-dup of 1; 4 is a within-batch LSH
    near-dup of 1 (min-id keeper wins); survivors = {1, 2}."""
    got = sorted(r.doc_id for r in dedup_batch(_df(spark, BATCH1)).collect())
    assert got == [1, 2]


def test_dedup_batch_flag_policy(spark):
    """policy='flag' keeps cross-corpus candidates, marked."""
    from pharmacodi_spark.text.incremental import band_buckets, content_hashes

    corpus = _df(spark, [(0, T_A), (10, T_X)])
    flags = dedup_batch(
        _df(spark, BATCH2),
        content_hashes(corpus),
        band_buckets(corpus),
        policy="flag",
    )
    rows = {r.doc_id: r.near_dup_candidate for r in flags.collect()}
    # 5 = exact dup of corpus doc 10 → gone before flagging; 6 = LSH hit on
    # corpus T_A cells → kept but flagged; 7 = clean
    assert rows == {6: True, 7: False}


def test_batch_sequential_ingest(spark, tmp_path):
    base = str(tmp_path / "state")
    ingest_batch(spark, base, _df(spark, BATCH1))
    corpus1 = sorted(
        r.doc_id for r in spark.read.parquet(f"{base}/corpus").collect()
    )
    assert corpus1 == [1, 2]
    ingest_batch(spark, base, _df(spark, BATCH2))
    corpus2 = {
        r.doc_id: r.text for r in spark.read.parquet(f"{base}/corpus").collect()
    }
    # 5 exact-dups corpus doc 2 (T_X); 6 LSH-hits corpus doc 1's cells; 7 in
    assert sorted(corpus2) == [1, 2, 7]
    assert corpus2[7] == T_Y
    # indices grew by the survivors only (3 docs ⇒ 3 hashes; cells distinct)
    assert spark.read.parquet(f"{base}/hash_index").count() == 3
    cells = spark.read.parquet(f"{base}/bucket_index")
    assert cells.count() == cells.select("band", "bucket").distinct().count()


# Spark jobs one ingest_batch may run on these fixtures: the first batch
# builds the state, the second runs the full gauntlet against it. A hidden
# job (an AQE shuffle re-run, a schemaless index read, a CC round) added
# by a later change pushes a batch over.
INGEST_JOB_BUDGET = (15, 23)


def test_ingest_batch_job_budget(spark, tmp_path):
    sc = spark.sparkContext
    base = str(tmp_path / "state")
    prev = sc.getLocalProperty("spark.jobGroup.id")
    jobs = []
    try:
        for i, rows in enumerate([BATCH1, BATCH2]):
            group = f"ingest-budget-{os.getpid()}-{i}"
            sc.setJobGroup(group, f"ingest_batch {i}")
            ingest_batch(spark, base, _df(spark, rows))
            sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    assert all(n <= cap for n, cap in zip(jobs, INGEST_JOB_BUDGET)), jobs


def _write_stream_files(spark, src_dir):
    """Two json files = two micro-batches (maxFilesPerTrigger=1), mtime-
    ordered so the file source replays them in batch order."""
    os.makedirs(src_dir)
    for i, batch in enumerate([BATCH1, BATCH2]):
        path = os.path.join(src_dir, f"b{i}.json")
        with open(path, "w") as f:
            for doc_id, text in batch:
                f.write('{"doc_id": %d, "text": "%s"}\n' % (doc_id, text))
        os.utime(path, (time.time() + i * 10, time.time() + i * 10))


def test_streaming_ingest_matches_batch_sequential(spark, tmp_path):
    src = str(tmp_path / "incoming")
    _write_stream_files(spark, src)

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    s_base = str(tmp_path / "stream_state")
    q = streaming_ingest(stream, s_base, str(tmp_path / "ckpt"))
    q.awaitTermination()

    b_base = str(tmp_path / "batch_state")
    ingest_batch(spark, b_base, _df(spark, BATCH1))
    ingest_batch(spark, b_base, _df(spark, BATCH2))

    s_corpus = {(r.doc_id, r.text) for r in spark.read.parquet(f"{s_base}/corpus").collect()}
    b_corpus = {(r.doc_id, r.text) for r in spark.read.parquet(f"{b_base}/corpus").collect()}
    assert s_corpus == b_corpus and len(s_corpus) == 3
    s_hashes = {r.h for r in spark.read.parquet(f"{s_base}/hash_index").collect()}
    b_hashes = {r.h for r in spark.read.parquet(f"{b_base}/hash_index").collect()}
    assert s_hashes == b_hashes
    s_cells = {
        (r.band, r.bucket)
        for r in spark.read.parquet(f"{s_base}/bucket_index").collect()
    }
    b_cells = {
        (r.band, r.bucket)
        for r in spark.read.parquet(f"{b_base}/bucket_index").collect()
    }
    assert s_cells == b_cells


def test_streaming_ingest_replay_idempotent(spark, tmp_path):
    """Delete the last commit marker → Structured Streaming re-runs the
    final micro-batch through foreachBatch with the same data. The corpus
    and both indices must be unchanged (merge idempotent, index appends
    anti-joined)."""
    src = str(tmp_path / "incoming")
    _write_stream_files(spark, src)
    base = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        streaming_ingest(stream, base, ckpt).awaitTermination()

    run()
    snap = lambda p: sorted(map(tuple, spark.read.parquet(p).collect()))  # noqa: E731
    before = (
        snap(f"{base}/corpus"),
        snap(f"{base}/hash_index"),
        snap(f"{base}/bucket_index"),
    )
    commits = sorted(
        f for f in os.listdir(f"{ckpt}/commits") if not f.startswith(".")
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    run()  # replays the final micro-batch
    after = (
        snap(f"{base}/corpus"),
        snap(f"{base}/hash_index"),
        snap(f"{base}/bucket_index"),
    )
    assert before == after


def test_reprocess_snapshot_diff_driven_maintenance(spark, tmp_path):
    """Snapshot B vs corpus from snapshot A: removed docs retire (corpus +
    indices), changed docs carry their new text, added docs ingest through
    the dedup gauntlet, and a same-snapshot rerun is a no-op."""
    from pharmacodi_spark.pipelines.ingest import ingest_batch, reprocess_snapshot

    base = str(tmp_path / "state")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    snap_a = mk([
        (1, "alpha body one two three"),
        (2, "beta body four five six"),
        (3, "gamma body seven eight nine"),
    ])
    ingest_batch(spark, base, snap_a)

    snap_b = mk([
        (1, "alpha body one two three"),        # unchanged
        (2, "beta REVISED four five six"),      # changed
        (4, "delta fresh ten eleven twelve"),   # added
        (5, "alpha body one two three"),        # added, exact dup of 1 → dropped
    ])                                          # 3 removed
    counts = reprocess_snapshot(spark, base, snap_b)
    assert counts == {"unchanged": 1, "changed": 1, "added": 2, "removed": 1}

    corpus = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{base}/corpus").collect()
    }
    assert set(corpus) == {1, 2, 4}
    assert corpus[2] == "beta REVISED four five six"
    # retired doc 3's hash left the index: re-adding it later must succeed
    hashes = {r.h for r in spark.read.parquet(f"{base}/hash_index").collect()}
    import hashlib
    assert hashlib.md5(b"gamma body seven eight nine").hexdigest() not in hashes
    assert hashlib.md5(b"alpha body one two three").hexdigest() in hashes

    # replay: same snapshot again → everything unchanged, state untouched
    counts2 = reprocess_snapshot(spark, base, snap_b.where("doc_id != 5"))
    assert counts2 == {"unchanged": 3}
    assert {
        r.doc_id for r in spark.read.parquet(f"{base}/corpus").collect()
    } == {1, 2, 4}


# ---------------------------------------------------------------------------
# Streaming twin of reprocess_snapshot (diff-driven maintenance as a stream)
# ---------------------------------------------------------------------------

SNAP_A = [
    (1, "alpha body one two three"),
    (2, "beta body four five six"),
    (3, "gamma body seven eight nine"),
]
# Snapshot B sharded into two micro-batches. Doc 4 carries doc 3's exact
# text while B retires id 3 — the "content moved to a new id" crawl case
# that only the quarantine re-try converges; doc 5 exact-dups the SURVIVING
# doc 1, so it must stay dropped after finalize.
SNAP_B_SHARDS = [
    [(4, "gamma body seven eight nine")],
    [(1, "alpha body one two three"),
     (2, "beta REVISED four five six"),
     (5, "alpha body one two three")],
]


def _write_snapshot_shards(src_dir, shards):
    os.makedirs(src_dir)
    for i, shard in enumerate(shards):
        path = os.path.join(src_dir, f"s{i}.json")
        with open(path, "w") as f:
            for doc_id, text in shard:
                f.write('{"doc_id": %d, "text": "%s"}\n' % (doc_id, text))
        os.utime(path, (time.time() + i * 10, time.time() + i * 10))


def _state_snapshot(spark, base):
    return (
        {(r.doc_id, r.text) for r in spark.read.parquet(f"{base}/corpus").collect()},
        {r.h for r in spark.read.parquet(f"{base}/hash_index").collect()},
        {(r.band, r.bucket)
         for r in spark.read.parquet(f"{base}/bucket_index").collect()},
    )


def _run_reprocess_stream(spark, src, base, run_dir, ckpt):
    from pharmacodi_spark.pipelines.ingest import streaming_reprocess

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    streaming_reprocess(stream, base, run_dir, ckpt).awaitTermination()


def test_streaming_reprocess_matches_batch_snapshot(spark, tmp_path):
    """Stream the snapshot shards, finalize, and land on EXACTLY the batch
    reprocess_snapshot state — moved content (doc 4) enters via the
    quarantine re-try, the surviving-dup (doc 5) stays out, never-seen
    doc 3 retires."""
    from pharmacodi_spark.pipelines.ingest import (
        finalize_reprocess,
        reprocess_snapshot,
    )

    src = str(tmp_path / "incoming")
    _write_snapshot_shards(src, SNAP_B_SHARDS)

    s_base = str(tmp_path / "stream_state")
    ingest_batch(spark, s_base, _df(spark, SNAP_A))
    _run_reprocess_stream(
        spark, src, s_base, str(tmp_path / "run"), str(tmp_path / "ckpt")
    )
    counts = finalize_reprocess(spark, s_base, str(tmp_path / "run"))
    assert counts == {"removed": 1, "requeued": 2}

    b_base = str(tmp_path / "batch_state")
    ingest_batch(spark, b_base, _df(spark, SNAP_A))
    reprocess_snapshot(
        spark, b_base, _df(spark, [r for s in SNAP_B_SHARDS for r in s])
    )

    assert _state_snapshot(spark, s_base) == _state_snapshot(spark, b_base)
    corpus = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{s_base}/corpus").collect()
    }
    assert corpus == {
        1: "alpha body one two three",
        2: "beta REVISED four five six",
        4: "gamma body seven eight nine",
    }


def test_streaming_reprocess_replay_idempotent(spark, tmp_path):
    """Re-running the final micro-batch (deleted commit marker) leaves the
    corpus, indices, seen set, and quarantine byte-identical."""
    src = str(tmp_path / "incoming")
    _write_snapshot_shards(src, SNAP_B_SHARDS)
    base = str(tmp_path / "state")
    run_dir = str(tmp_path / "run")
    ckpt = str(tmp_path / "ckpt")
    ingest_batch(spark, base, _df(spark, SNAP_A))

    _run_reprocess_stream(spark, src, base, run_dir, ckpt)
    snap = lambda p: sorted(map(tuple, spark.read.parquet(p).collect()))  # noqa: E731
    before = (
        _state_snapshot(spark, base),
        snap(f"{run_dir}/seen_ids"),
        snap(f"{run_dir}/quarantine"),
    )
    commits = sorted(
        f for f in os.listdir(f"{ckpt}/commits") if not f.startswith(".")
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    _run_reprocess_stream(spark, src, base, run_dir, ckpt)
    after = (
        _state_snapshot(spark, base),
        snap(f"{run_dir}/seen_ids"),
        snap(f"{run_dir}/quarantine"),
    )
    assert before == after


def test_finalize_reprocess_idempotent(spark, tmp_path):
    """A second finalize retires nothing, requeues nothing, and leaves the
    state untouched."""
    from pharmacodi_spark.pipelines.ingest import finalize_reprocess

    src = str(tmp_path / "incoming")
    _write_snapshot_shards(src, SNAP_B_SHARDS)
    base = str(tmp_path / "state")
    run_dir = str(tmp_path / "run")
    ingest_batch(spark, base, _df(spark, SNAP_A))
    _run_reprocess_stream(spark, src, base, run_dir, str(tmp_path / "ckpt"))

    finalize_reprocess(spark, base, run_dir)
    before = _state_snapshot(spark, base)
    counts2 = finalize_reprocess(spark, base, run_dir)
    assert counts2 == {"removed": 0, "requeued": 0}
    assert _state_snapshot(spark, base) == before
