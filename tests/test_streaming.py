"""Structured Streaming tests: drive each op through a real file-source
stream (availableNow trigger → memory sink) and check batch/stream
equivalence — the same transform on the same rows must agree with its batch
run (Structured Streaming's core contract)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from pharmacodi_spark.streaming.ops import (
    dedup_within_watermark,
    events_ns_to_ts,
    read_event_stream,
    session_window_agg,
    sliding_window_agg,
    tumbling_window_agg,
)


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    """Write the sf0.001 events fixture as json files (streaming file source),
    split into 3 files to get multiple micro-batches."""
    path = tmp_path_factory.mktemp("events_stream")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    rows = events_ns_to_ts(df).orderBy("ts").collect()
    third = len(rows) // 3 + 1
    for i in range(3):
        chunk = rows[i * third : (i + 1) * third]
        with open(path / f"part-{i}.json", "w") as f:
            for r in chunk:
                f.write(
                    json.dumps(
                        {
                            "event_id": r.event_id,
                            "ts": r.ts.strftime("%Y-%m-%dT%H:%M:%S.%f"),
                            "user_id": r.user_id,
                            "event_type": r.event_type,
                            "value": r.value,
                            "props": r.props,
                        }
                    )
                    + "\n"
                )
    return str(path)


def _run_stream(spark, stream_df, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if stream_df.isStreaming else "append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish in 300s"
    return spark.sql(f"SELECT * FROM {name}")


def _batch_events(spark, event_dir):
    from pharmacodi_spark.streaming.ops import EVENT_SCHEMA

    return spark.read.schema(EVENT_SCHEMA).json(event_dir)


def test_tumbling_stream_matches_batch(spark, event_dir):
    stream = read_event_stream(spark, event_dir, max_files_per_trigger=1)
    out = _run_stream(spark, tumbling_window_agg(stream), "tumbling_t")
    batch = tumbling_window_agg(_batch_events(spark, event_dir))
    s = {(r.window_start, r.event_type): (r.n_events, round(r.sum_value, 6))
         for r in out.collect()}
    b = {(r.window_start, r.event_type): (r.n_events, round(r.sum_value, 6))
         for r in batch.collect()}
    assert s == b and len(s) > 10


def test_sliding_stream_matches_batch(spark, event_dir):
    """Full value equivalence (not just counts): every (window, event_type)
    cell agrees between the streamed and batch runs (VERDICT r1 item 9)."""
    stream = read_event_stream(spark, event_dir, max_files_per_trigger=1)
    out = _run_stream(spark, sliding_window_agg(stream), "sliding_t")
    batch = sliding_window_agg(_batch_events(spark, event_dir))
    s = {(r.window_start, r.window_end, r.event_type): r.n_events
         for r in out.collect()}
    b = {(r.window_start, r.window_end, r.event_type): r.n_events
         for r in batch.collect()}
    assert s == b and len(s) > 10


def test_session_window_matches_batch(spark, event_dir):
    """Full value equivalence: every merged session (start, end, n, sum)
    agrees between the streamed and batch session_window runs, and the
    per-user session counts also match the independent lag/cumsum batch
    sessionization (the oracle-gated twin)."""
    stream = read_event_stream(spark, event_dir, max_files_per_trigger=1)
    out = _run_stream(spark, session_window_agg(stream), "session_t")
    batch = session_window_agg(_batch_events(spark, event_dir))
    s = {(r.user_id, r.session_start, r.session_end): (r.n_events, round(r.sum_value, 6))
         for r in out.collect()}
    b = {(r.user_id, r.session_start, r.session_end): (r.n_events, round(r.sum_value, 6))
         for r in batch.collect()}
    assert s == b and len(s) > 0


def test_dedup_within_watermark(spark, event_dir, tmp_path):
    # duplicate one file's rows → streaming dedup must drop the repeats
    import shutil, os

    dup_dir = tmp_path / "dup"
    dup_dir.mkdir()
    for f in os.listdir(event_dir):
        shutil.copy(f"{event_dir}/{f}", dup_dir / f)
    shutil.copy(f"{event_dir}/part-0.json", dup_dir / "part-0-copy.json")

    stream = read_event_stream(spark, str(dup_dir), max_files_per_trigger=10)
    q = (
        dedup_within_watermark(stream)
        .writeStream.format("memory")
        .queryName("dedup_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish in 300s"
    n = spark.sql("SELECT count(DISTINCT event_id) c FROM dedup_t").collect()[0].c
    total = spark.sql("SELECT count(*) c FROM dedup_t").collect()[0].c
    assert n == total  # no duplicate event_ids survived


def test_stateful_running_totals_matches_batch(spark, event_dir):
    from pharmacodi_spark.streaming.ops import running_user_totals

    stream = read_event_stream(spark, event_dir, max_files_per_trigger=1)
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("stateful_t")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish in 300s"
    # last emission per user (max n_events — totals only grow) == batch totals
    out = spark.sql(
        """
        SELECT user_id, max(n_events) AS n_events,
               max_by(sum_value, n_events) AS sum_value
        FROM stateful_t GROUP BY user_id
        """
    )
    s = {r.user_id: (r.n_events, round(r.sum_value, 6)) for r in out.collect()}
    batch = (
        _batch_events(spark, event_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
    )
    b = {r.user_id: (r.n, round(r.s, 6)) for r in batch.collect()}
    assert s == b and len(s) > 0



def _drain_then_stop(spark, q, expected_rows: int, timeout: int = 240):
    """availableNow + ProcessingTimeTimeout state keeps scheduling empty
    timer micro-batches after the file data is drained, so awaitTermination
    can spin for minutes (and a silent timeout leaks a running query — the
    historical flake in this module). Data batches always run first: wait
    until the query has ingested every fixture row, let one trailing batch
    land, then stop explicitly and require clean termination."""
    import time as _time

    deadline = _time.time() + timeout
    while _time.time() < deadline:
        done = sum(p["numInputRows"] for p in q.recentProgress)
        if not q.isActive or done >= expected_rows:
            break
        _time.sleep(0.5)
    else:
        raise AssertionError(
            f"stream ingested only "
            f"{sum(p['numInputRows'] for p in q.recentProgress)} of "
            f"{expected_rows} rows in {timeout}s"
        )
    if q.isActive:
        q.stop()
    assert q.awaitTermination(60), "stream did not stop in 60s"


@pytest.mark.slow
def test_stateful_ttl_counters_matches_batch(spark, event_dir, tmp_path):
    """ProcessingTimeTimeout stateful op: with a TTL far beyond the run's
    wall-clock nothing evicts, so the final emission per user must equal the
    batch totals exactly (same contract as the NoTimeout running totals);
    the eviction branch is exercised with a 0-second TTL, where every key
    times out between micro-batches and per-batch emissions reset — totals
    never exceed the batch value and every user still appears."""
    from pharmacodi_spark.streaming.ops import counters_with_ttl

    stream = read_event_stream(spark, event_dir, max_files_per_trigger=1)
    q = (
        counters_with_ttl(stream, ttl_secs=3600)
        .writeStream.format("memory")
        .queryName("ttl_t")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    n_fixture = _batch_events(spark, event_dir).count()
    _drain_then_stop(spark, q, expected_rows=n_fixture)
    out = spark.sql(
        """
        SELECT user_id, max(n_events) AS n_events,
               max_by(sum_value, n_events) AS sum_value
        FROM ttl_t GROUP BY user_id
        """
    )
    s = {r.user_id: (r.n_events, round(r.sum_value, 6)) for r in out.collect()}
    batch = (
        _batch_events(spark, event_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
    )
    b = {r.user_id: (r.n, round(r.s, 6)) for r in batch.collect()}
    assert s == b and len(s) > 0

    # eviction branch needs a key that goes idle for a whole micro-batch
    # (keys receiving data are never timed out): user 1 skips the middle
    # file, so its timer fires during batch 1 and its totals restart in
    # batch 2 — max emission 2, not the lifetime 4. user 2 never idles and
    # keeps its full running total.
    import json as _json
    import os

    ttl_dir = str(tmp_path / "ttl_evict_fixture")
    os.makedirs(ttl_dir, exist_ok=True)
    files = {
        0: [(1, "2024-01-01T00:00:00.000000"), (1, "2024-01-01T00:01:00.000000"),
            (2, "2024-01-01T00:02:00.000000")],
        1: [(2, "2024-01-01T01:00:00.000000")],
        2: [(1, "2024-01-01T02:00:00.000000"), (1, "2024-01-01T02:01:00.000000"),
            (2, "2024-01-01T02:02:00.000000")],
    }
    import time as _time

    base_mtime = _time.time() - 100
    for i, rows in files.items():
        fp = f"{ttl_dir}/part-{i}.json"
        with open(fp, "w") as f:
            for j, (uid, ts) in enumerate(rows):
                f.write(_json.dumps({
                    "event_id": i * 10 + j, "ts": ts, "user_id": uid,
                    "event_type": "click", "value": 1.0, "props": "{}",
                }) + "\n")
        # the file source picks files by LAST-MODIFIED order; the three
        # parts are written within the same mtime tick, so without this
        # the "idle middle batch" can be consumed first and no eviction
        # ever happens (the historical 4==2 flake)
        os.utime(fp, (base_mtime + i * 10, base_mtime + i * 10))
    stream0 = read_event_stream(spark, ttl_dir, max_files_per_trigger=1)
    # a 2s processing-time trigger guarantees wall-clock passes between
    # micro-batches, so the 0-TTL timer set after batch 0 reliably fires
    # while user 1 is idle in batch 1 (availableNow can run batches
    # back-to-back within the same millisecond and skip the eviction)
    q2 = (
        counters_with_ttl(stream0, ttl_secs=0)
        .writeStream.format("memory")
        .queryName("ttl0_t")
        .outputMode("update")
        .trigger(processingTime="2 seconds")
        .start()
    )
    _drain_then_stop(spark, q2, expected_rows=7)
    out0 = spark.sql("SELECT user_id, max(n_events) AS n FROM ttl0_t GROUP BY user_id")
    s0 = {r.user_id: r.n for r in out0.collect()}
    assert s0[1] == 2  # evicted while idle in batch 1, restarted in batch 2
    assert s0[2] == 3  # never idle, full running total


def test_upsert_sink_exactly_once_replay(spark, event_dir, tmp_path):
    """Forced micro-batch replay (ROADMAP r2 item 4): delete the LAST commit
    marker from the sink's checkpoint after a completed run — on restart
    Structured Streaming re-executes that micro-batch through foreachBatch
    with the same batch data. The merge must be idempotent: the maintained
    table still equals the batch latest-per-key result, with no duplicated
    keys."""
    import os

    from pharmacodi_spark.streaming.ops import upsert_sink

    table = str(tmp_path / "user_latest")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = read_event_stream(spark, event_dir, max_files_per_trigger=1)
        q = upsert_sink(
            stream.select("user_id", "ts", "event_type", "value"),
            table,
            key_cols=["user_id"],
            checkpoint_dir=ckpt,
            order_col="ts",
        )
        # block until the availableNow run fully terminates — a timed wait
        # can return early and leave the query holding the checkpoint, which
        # the restart would then see as a concurrent user
        q.awaitTermination()

    run()
    commits = sorted(
        f for f in os.listdir(f"{ckpt}/commits") if not f.startswith(".")
    )
    assert len(commits) >= 3  # one per micro-batch file
    os.remove(f"{ckpt}/commits/{commits[-1]}")  # simulate crash pre-commit
    # also drop Hadoop's checksum sidecar: a stale .crc makes the replayed
    # commit's atomic rename look like a concurrent writer
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    run()  # replays the uncommitted batch through foreachBatch

    got = spark.read.parquet(table)
    assert got.count() == got.select("user_id").distinct().count()
    batch = _batch_events(spark, event_dir)
    w_latest = (
        batch.groupBy("user_id")
        .agg(F.max_by(F.struct("ts", "event_type"), "ts").alias("s"))
        .select("user_id", "s.ts", "s.event_type")
    )
    want = {r.user_id: (r.ts, r.event_type) for r in w_latest.collect()}
    have = {r.user_id: (r.ts, r.event_type) for r in got.collect()}
    assert have == want and len(have) > 0


@pytest.mark.slow
def test_interval_stream_join_matches_batch(spark, event_dir):
    from pharmacodi_spark.streaming.ops import interval_stream_join

    def split(df):
        return (
            df.where(F.col("event_type") == "click"),
            df.where(F.col("event_type") == "purchase"),
        )

    stream = read_event_stream(spark, event_dir, max_files_per_trigger=1)
    out = interval_stream_join(*split(stream))
    q = (
        out.writeStream.format("memory")
        .queryName("ssjoin_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish in 300s"
    got = spark.sql("SELECT l_event_id, r_event_id FROM ssjoin_t")
    batch = interval_stream_join(*split(_batch_events(spark, event_dir)))
    s = {(r.l_event_id, r.r_event_id) for r in got.collect()}
    b = {(r.l_event_id, r.r_event_id) for r in batch.collect()}
    # append-mode stream emits exactly the batch join result
    assert s == b and len(b) > 0


@pytest.mark.slow
def test_session_timeout_matches_session_window(spark, event_dir):
    """Custom stateful sessionization (EventTimeTimeout) vs the built-in
    session_window: every session the stateful operator CLOSES (via gap
    split or watermark timeout) must exactly match a built-in session row;
    only trailing sessions still open at end-of-stream may be missing."""
    from pharmacodi_spark.streaming.ops import session_totals_with_timeout

    stream = read_event_stream(spark, event_dir, max_files_per_trigger=1)
    out = session_totals_with_timeout(
        stream.withWatermark("ts", "10 minutes")
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sess_timeout_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish in 300s"
    got = {
        (r.user_id, r.session_start_ms, r.session_end_ms): r.n_events
        for r in spark.sql("SELECT * FROM sess_timeout_t").collect()
    }
    batch = session_window_agg(_batch_events(spark, event_dir))
    want = {
        (
            r.user_id,
            int(r.session_start.timestamp() * 1000),
            # built-in session end = last_ts + gap; ours = last event ts
            int(r.session_end.timestamp() * 1000) - 1800 * 1000,
        ): r.n_events
        for r in batch.collect()
    }
    assert len(got) > 0
    for k, n in got.items():
        assert k in want and want[k] == n, (k, n)
    # closed sessions dominate: only per-user trailing sessions may be open
    n_users = len({u for u, _, _ in want})
    assert len(got) >= len(want) - n_users


def test_rate_limited_source_batches(spark, event_dir):
    """maxFilesPerTrigger=1 over 3 files must produce 3 input micro-batches
    (admission control caps per-batch ingest)."""
    stream = read_event_stream(spark, event_dir, max_files_per_trigger=1)
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish in 300s"
    n_data_batches = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    assert n_data_batches == 3, [p["numInputRows"] for p in q.recentProgress]
    total = spark.sql("SELECT count(*) c FROM rate_t").collect()[0].c
    assert total == _batch_events(spark, event_dir).count()


def test_upsert_sink_latest_per_key(spark, event_dir, tmp_path):
    """foreachBatch keyed sink: the maintained table holds exactly the
    latest row per user (by event time) after streaming all micro-batches —
    equal to the batch greatest-ts-per-user query."""
    from pharmacodi_spark.streaming.ops import upsert_sink

    stream = read_event_stream(spark, event_dir, max_files_per_trigger=1)
    table = str(tmp_path / "user_latest")
    q = upsert_sink(
        stream.select("user_id", "ts", "event_type", "value"),
        table,
        key_cols=["user_id"],
        checkpoint_dir=str(tmp_path / "ckpt"),
        order_col="ts",
    )
    assert q.awaitTermination(300), "stream did not finish in 300s"

    got = {r.user_id: (r.ts, r.event_type) for r in spark.read.parquet(table).collect()}
    batch = _batch_events(spark, event_dir)
    w_latest = (
        batch.groupBy("user_id")
        .agg(F.max_by(F.struct("ts", "event_type"), "ts").alias("s"))
        .select("user_id", "s.ts", "s.event_type")
    )
    want = {r.user_id: (r.ts, r.event_type) for r in w_latest.collect()}
    assert got == want and len(got) > 0
