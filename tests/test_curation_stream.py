"""Streaming curation twin (VERDICT r5 item 9): the availableNow stream over
ascending doc_id ranges must produce a curated table ROW-IDENTICAL to
incremental_curation_batch over the whole corpus, and micro-batch replay
must leave the state unchanged."""

from __future__ import annotations

import pytest

# multi-second E2E / streaming-equivalence module: default-deselected (pytest.ini),
# included in CI mode with -m ""
pytestmark = pytest.mark.slow

import json
import os
import time

SF = "/root/testdata/sf0.001"
SCHEMA = "doc_id long, text string, source string"


def _write_stream_files(docs_rows, src_dir, n_files=3):
    """Ascending doc_id ranges, one json file per micro-batch, mtime-ordered
    (the file source picks up files by mtime)."""
    os.makedirs(src_dir)
    rows = sorted(docs_rows, key=lambda r: r["doc_id"])
    per = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        chunk = rows[i * per : (i + 1) * per]
        path = os.path.join(src_dir, f"b{i}.json")
        with open(path, "w") as f:
            for r in chunk:
                f.write(json.dumps(
                    {"doc_id": r["doc_id"], "text": r["text"],
                     "source": r["source"]}
                ) + "\n")
        os.utime(path, (time.time() + i * 10, time.time() + i * 10))


def _setup(spark, tmp_path):
    from pyspark.sql import functions as F

    from pharmacodi_spark.pipelines.curation_stream import (
        prepare_curation_state,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    base = str(tmp_path / "state")
    prepare_curation_state(
        spark, base, docs, docs.where(F.col("doc_id") % 97 == 0)
    )
    train = docs.where(F.col("doc_id") % 97 != 0)
    rows = [r.asDict() for r in train.select("doc_id", "text", "source").collect()]
    return docs, base, rows


def _split_batches(spark, rows):
    half = len(rows) // 2
    b1 = spark.createDataFrame(
        [(r["doc_id"], r["text"], r["source"]) for r in rows[:half]], SCHEMA
    )
    b2 = spark.createDataFrame(
        [(r["doc_id"], r["text"], r["source"]) for r in rows[half:]], SCHEMA
    )
    return b1, b2


def _snap(spark, base):
    return (
        sorted(r.doc_id for r in spark.read.parquet(f"{base}/curated").collect()),
        sorted(r.h for r in spark.read.parquet(f"{base}/passage_owner").collect()),
        sorted(r.h for r in spark.read.parquet(f"{base}/hash_index").collect()),
    )


def test_stream_equals_batch_twin(spark, tmp_path):
    from pharmacodi_spark.pipelines.curation_stream import (
        incremental_curation_batch, streaming_curation,
    )

    docs, base, rows = _setup(spark, tmp_path)
    src = str(tmp_path / "incoming")
    _write_stream_files(rows, src)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = streaming_curation(stream, base, str(tmp_path / "ckpt"))
    q.awaitTermination()

    got = {
        (r.doc_id, r.text)
        for r in spark.read.parquet(f"{base}/curated").collect()
    }
    want = {
        (r.doc_id, r.text)
        for r in incremental_curation_batch(spark, docs)
        .select("doc_id", "text")
        .collect()
    }
    assert got == want and got, f"stream={len(got)} batch={len(want)}"


def test_stream_batch_replay_idempotent(spark, tmp_path):
    from pharmacodi_spark.pipelines.curation_stream import curate_stream_batch

    docs, base, rows = _setup(spark, tmp_path)
    b1, b2 = _split_batches(spark, rows)
    curate_stream_batch(spark, base, b1, batch_id=0)
    curate_stream_batch(spark, base, b2, batch_id=1)

    before = _snap(spark, base)
    curate_stream_batch(spark, base, b2, batch_id=1)  # replayed micro-batch
    assert _snap(spark, base) == before


def test_stream_batch_stale_batch_id_rejected(spark, tmp_path):
    """A direct caller replaying a batch id BEHIND the on-disk max would
    read a partial strictly-earlier view and dynamically overwrite a live
    batch's index rows — the guard must refuse it (only the latest batch
    is replayable), and batch_id is keyword-required (ADVICE r7)."""
    import pytest

    from pharmacodi_spark.pipelines.curation_stream import curate_stream_batch

    docs, base, rows = _setup(spark, tmp_path)
    b1, b2 = _split_batches(spark, rows)
    curate_stream_batch(spark, base, b1, batch_id=0)
    curate_stream_batch(spark, base, b2, batch_id=1)
    with pytest.raises(ValueError, match="behind the index"):
        curate_stream_batch(spark, base, b1, batch_id=0)
    with pytest.raises(TypeError):
        curate_stream_batch(spark, base, b1)  # batch_id is keyword-required


def test_replay_after_crash_between_index_writes(spark, tmp_path):
    """ADVICE r6 (medium): a micro-batch that crashed AFTER its
    passage_owner write but BEFORE its hash_index write must, on replay,
    recompute identical verdicts (it must not see its own owner rows) and
    converge to the uncrashed final state."""
    import shutil

    from pharmacodi_spark.pipelines.curation_stream import curate_stream_batch

    docs, base, rows = _setup(spark, tmp_path)
    b1, b2 = _split_batches(spark, rows)
    curate_stream_batch(spark, base, b1, batch_id=0)
    curate_stream_batch(spark, base, b2, batch_id=1)
    want = _snap(spark, base)

    # simulate the crash: batch 1's hash_index partition never landed
    shutil.rmtree(f"{base}/hash_index/batch_id=1")
    curate_stream_batch(spark, base, b2, batch_id=1)  # replay
    assert _snap(spark, base) == want


def test_replay_after_first_batch_partial_crash(spark, tmp_path):
    """ADVICE r6 (medium): a FIRST batch that crashed between the owner
    write and the hash_index write must not wedge the replay (the old code
    keyed have_state on passage_owner alone and then failed reading the
    missing hash_index path)."""
    import shutil

    from pharmacodi_spark.pipelines.curation_stream import curate_stream_batch

    docs, base, rows = _setup(spark, tmp_path)
    b1, b2 = _split_batches(spark, rows)
    curate_stream_batch(spark, base, b1, batch_id=0)
    want_b1 = _snap(spark, base)

    # simulate: owner landed, hash_index (and curated) never did
    shutil.rmtree(f"{base}/hash_index")
    shutil.rmtree(f"{base}/curated")
    curate_stream_batch(spark, base, b1, batch_id=0)  # replay wedges? no.
    assert _snap(spark, base) == want_b1

    curate_stream_batch(spark, base, b2, batch_id=1)  # stream continues
    got = _snap(spark, base)
    assert got[0] and set(got[0]) >= set(want_b1[0])


def test_stream_html_stage0_composes(spark, tmp_path):
    """HTML stage 0 composes with the streaming curation path for free
    (html_to_text is stateless): wrapping each micro-batch's text in a
    noisy page and prepending the extractor yields byte-identical curated
    state to streaming the plain text."""
    from pyspark.sql import functions as F

    from pharmacodi_spark.pipelines.curation_stream import curate_stream_batch
    from pharmacodi_spark.text.html import html_to_text

    docs, base_plain, rows = _setup(spark, tmp_path / "plain")
    _, base_html, _ = _setup(spark, tmp_path / "html")
    half = len(rows) // 2
    page = (
        "concat('<html><head><script>var x = 1 < 2;</script></head>"
        "<body><div class=\"nav\"><a href=\"/\">Home</a> "
        "<a href=\"/a\">About</a></div><p>', text, '</p></body></html>')"
    )
    for bid, chunk in enumerate((rows[:half], rows[half:])):
        b = spark.createDataFrame(
            [(r["doc_id"], r["text"], r["source"]) for r in chunk], SCHEMA
        )
        curate_stream_batch(spark, base_plain, b, batch_id=bid)
        wrapped = b.select(
            "doc_id", "source", F.expr(page).alias("html")
        )
        curate_stream_batch(
            spark,
            base_html,
            html_to_text(wrapped, html_col="html").drop("html"),
            batch_id=bid,
        )
    plain = sorted(
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(f"{base_plain}/curated").collect()
    )
    via_html = sorted(
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(f"{base_html}/curated").collect()
    )
    assert via_html == plain and plain


def test_html_stage0_composes_with_streaming_curation(spark, tmp_path):
    # ROADMAP r9: stage-0 html_to_text is a stateless native projection,
    # so the streaming twin gets the HTML→curation E2E for free — apply
    # the extractor ON THE STREAM and the curated table must be
    # row-identical to the batch twin over the same extracted corpus.
    from pyspark.sql import functions as F

    from pharmacodi_spark.pipelines.curation_stream import (
        incremental_curation_batch,
        prepare_curation_state,
        streaming_curation,
    )
    from pharmacodi_spark.text.html import html_to_text

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    wrap = F.concat(
        F.lit('<html><head><script>var fake = "<a href=\\"x\\">y</a>";'
              '</script></head><body><div class="nav">'
              '<a href="/">Home</a> <a href="/a">About</a></div><p>'),
        F.col("text"),
        F.lit("</p></body></html>"),
    )
    pages = docs.select("doc_id", wrap.alias("html"), "source")
    extracted = html_to_text(pages, html_col="html", out_col="text").select(
        "doc_id", "text", "source"
    )

    base = str(tmp_path / "state")
    prepare_curation_state(
        spark, base, extracted,
        extracted.where(F.col("doc_id") % 97 == 0),
    )
    train_pages = pages.where(F.col("doc_id") % 97 != 0)
    rows = [
        r.asDict()
        for r in train_pages.select("doc_id", "html", "source").collect()
    ]

    src = str(tmp_path / "incoming")
    os.makedirs(src)
    rows.sort(key=lambda r: r["doc_id"])
    per = (len(rows) + 2) // 3
    for i in range(3):
        path = os.path.join(src, f"b{i}.json")
        with open(path, "w") as f:
            for r in rows[i * per : (i + 1) * per]:
                f.write(json.dumps(r) + "\n")
        os.utime(path, (time.time() + i * 10, time.time() + i * 10))

    stream = (
        spark.readStream.schema("doc_id long, html string, source string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    # the stage-0 extraction runs INSIDE the stream (stateless projection)
    stream_txt = html_to_text(stream, html_col="html", out_col="text").drop(
        "html"
    )
    q = streaming_curation(stream_txt, base, str(tmp_path / "ckpt"))
    q.awaitTermination()

    got = {
        (r.doc_id, r.text)
        for r in spark.read.parquet(f"{base}/curated").collect()
    }
    want = {
        (r.doc_id, r.text)
        for r in incremental_curation_batch(spark, extracted)
        .select("doc_id", "text")
        .collect()
    }
    assert got == want and got, f"stream={len(got)} batch={len(want)}"
