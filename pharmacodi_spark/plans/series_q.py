"""Event-time window, time-series and aggregate rows (operators/timeseries, streaming/ops)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pharmacodi_spark.functions.scalar import local_df
from pharmacodi_spark.plans.queries import q, _t, _rnd, _il


# ---------------------------------------------------------------------------
# Event-time windows (batch equivalents of the streaming ops — SURVEY §2.11)
# ---------------------------------------------------------------------------


@q(
    "window_tumbling",
    """
    SELECT CAST(epoch_ns(ts) // 600000000000 AS BIGINT) * 600 AS bucket_start,
           event_type,
           count(*) AS n_events,
           floor((sum(value)) * 100 + 0.5) / 100 AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling event-time window aggregate — the batch twin of the
    Structured Streaming ``window(ts, '10 minutes')`` op
    (pharmacodi_spark.streaming). ``ts`` reads as epoch-nanos LONG
    (nanosAsLong); buckets are pure integer division — engine-neutral, no
    timezone surface at all."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "bucket_start",
            (F.expr("ts div 600000000000") * 600).cast("long"),
        )
        .groupBy("bucket_start", "event_type")
        .agg(F.count("*").alias("n_events"), _rnd(F.sum("value"), 2).alias("sum_value"))
    )


@q(
    "sessionization",
    """
    WITH gaps AS (
      SELECT user_id,
             CASE WHEN (epoch_ns(ts) // 1000) - lag(epoch_ns(ts) // 1000) OVER w
                        > 1800000000
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000, event_id)
    )
    SELECT user_id,
           CAST(sum(new_session) AS BIGINT) AS n_sessions,
           count(*) AS n_events
    FROM gaps GROUP BY user_id
    """,
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag + gap threshold (30 min) — the window-function
    twin of ``session_window`` (SURVEY §2.5 note: the events fixture is the
    designated surface). Gap compare AND window ordering in truncated integer
    microseconds on both sides (Spark reads full nanos, DuckDB µs — ordering
    by raw values could disagree within a microsecond)."""
    ev = _t(spark, sf_dir, "events")
    us = F.expr("ts div 1000")
    w = Window.partitionBy("user_id").orderBy(us, "event_id")
    gaps = ev.withColumn(
        "new_session",
        F.when(
            (us - F.lag(us).over(w) > 1_800_000_000) | F.lag(us).over(w).isNull(), 1
        ).otherwise(0),
    )
    return gaps.groupBy("user_id").agg(
        F.sum("new_session").cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Event-time: sliding windows + watermark-dedup batch twin (SURVEY §2.11)
# ---------------------------------------------------------------------------


@q(
    "window_sliding",
    """
    SELECT win_start, count(*) AS n_events,
           floor(sum(value) * 100 + 0.5) / 100 AS sum_value
    FROM (
      SELECT unnest([slot - 300, slot]) AS win_start, value
      FROM (SELECT CAST(epoch_ns(ts) // 300000000000 AS BIGINT) * 300 AS slot, value
            FROM events)
    )
    GROUP BY win_start
    """,
)
def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 — the batch twin of Structured
    Streaming ``window(ts, '10 minutes', '5 minutes')`` (streaming/ops.py::
    sliding_window_agg). Each event lands in exactly size/slide = 2 windows,
    assigned by integer arithmetic + a 2-element explode — engine-neutral,
    no timezone surface."""
    ev = _t(spark, sf_dir, "events")
    slot = (F.expr("ts div 300000000000") * 300).cast("long")
    return (
        ev.select(
            F.explode(F.array(slot - 300, slot)).alias("win_start"), "value"
        )
        .groupBy("win_start")
        .agg(F.count("*").alias("n_events"), _rnd(F.sum("value"), 2).alias("sum_value"))
    )


@q(
    "dedup_watermark",
    """
    SELECT user_id, event_type,
           CAST(epoch_ns(ts) // 600000000000 AS BIGINT) * 600 AS bucket_start,
           CAST(min(event_id) AS BIGINT) AS keeper_event_id,
           count(*) AS n_dups
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ``dropDuplicatesWithinWatermark``: one keeper per
    (user_id, event_type) within each 10-minute bucket, min event_id wins
    (streaming/ops.py::dedup_within_watermark is the streaming form whose
    state store this aggregation mirrors). Map-side partial agg collapses
    per-partition dups before the shuffle — the batch cost model matches the
    streaming state-store bound."""
    ev = _t(spark, sf_dir, "events")
    bucket = (F.expr("ts div 600000000000") * 600).cast("long")
    return ev.groupBy(
        "user_id", "event_type", bucket.alias("bucket_start")
    ).agg(
        F.min("event_id").cast("long").alias("keeper_event_id"),
        F.count("*").alias("n_dups"),
    )


# ---------------------------------------------------------------------------
# Core OLAP widening: exact quantiles, dispersion from integer sums, cumsum
# ---------------------------------------------------------------------------


@q(
    "quantiles",
    """
    SELECT l_returnflag,
           floor(quantile_cont(l_quantity, 0.5) * 10000 + 0.5) / 10000 AS p50,
           floor(quantile_cont(l_quantity, 0.9) * 10000 + 0.5) / 10000 AS p90
    FROM lineitem GROUP BY l_returnflag
    """,
)
def quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per group (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont`` — both linear interpolation at p·(n-1)). l_quantity is
    integer-valued, so interpolated values carry ≤1 true decimal and the
    4-dp floor rounding absorbs the engines' last-ulp differences. At scale
    use ``percentile_approx`` (t-digest, mergeable map-side) — the exact
    form here is its referee."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        _rnd(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50"),
        _rnd(F.expr("percentile(l_quantity, 0.9)"), 4).alias("p90"),
    )


@q(
    "dispersion_stats",
    """
    WITH q AS (
      SELECT l_returnflag,
             CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qc
      FROM lineitem
    ),
    s AS (
      SELECT l_returnflag,
             count(*) AS n,
             CAST(sum(qc) AS BIGINT) AS sum_centi,
             CAST(sum(qc * qc) AS BIGINT) AS sumsq_centi,
             CAST(sum(qc) AS DOUBLE) / count(*) AS m1,
             CAST(sum(qc * qc) AS DOUBLE) / count(*) AS m2
      FROM q GROUP BY l_returnflag
    )
    SELECT l_returnflag, n, sum_centi, sumsq_centi,
           floor(((m2 - m1 * m1) * (CAST(n AS DOUBLE) / (n - 1)))
                 / 10000 * 100 + 0.5) / 100 AS variance
    FROM s
    """,
)
def dispersion_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance/stddev family from integer centi-unit power sums, in the
    MEAN form (Σx²/n − x̄²)·n/(n−1): every integer stays < 2⁶³ at any sf
    (the n·Σx² − (Σx)² product form overflows signed long around sf1) and
    both engines run the identical IEEE op sequence on identical integers.
    Built-in ``stddev_samp`` accumulates doubles in partition order and is
    NOT cross-engine reproducible — this is the portable formulation (and
    the map-side-mergeable one: power sums combine associatively, exactly
    the partial-agg shape Spark runs)."""
    li = _t(spark, sf_dir, "lineitem")
    qc = _rnd(F.col("l_quantity") * 100).cast("long")
    q = li.select("l_returnflag", qc.alias("qc"))
    n = F.count("*")
    s1 = F.sum("qc")
    s2 = F.sum(F.col("qc") * F.col("qc"))
    m1 = s1.cast("double") / n
    m2 = s2.cast("double") / n
    var_centi2 = (m2 - m1 * m1) * (n.cast("double") / (n - 1))
    return q.groupBy("l_returnflag").agg(
        n.alias("n"),
        s1.cast("long").alias("sum_centi"),
        s2.cast("long").alias("sumsq_centi"),
        _rnd(var_centi2 / 10000, 2).alias("variance"),
    )


@q(
    "running_totals",
    """
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS run_centi
    FROM orders
    """,
)
def running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running order total (W2 cumsum family): centi-quantized
    long sums over a (customer, date, key) window — exact in both engines.
    Partitioned by customer: thousands of independent window partitions, no
    global single-task window (the record_text round-1 hazard class)."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    centi = _rnd(F.col("o_totalprice") * 100).cast("long")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(centi).over(w).cast("long").alias("run_centi"),
    )


# ---------------------------------------------------------------------------
# F11 date/time kit
# ---------------------------------------------------------------------------


@q(
    "date_kit",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(month(o_orderdate) AS BIGINT) AS mo,
           CAST(day(o_orderdate) AS BIGINT) AS dom,
           epoch_us(date_trunc('month', o_orderdate)) AS month_us,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01')
                AS BIGINT) AS days_to_1999,
           strftime(o_orderdate, '%Y-%m-%d') AS ymd
    FROM orders
    """,
)
def date_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 date/time breadth: component extraction, month truncation (as
    epoch micros — timestamps never leave a query raw), day arithmetic, and
    formatting, with the session pinned to UTC so both engines see the same
    wall-clock fields."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
        F.dayofmonth("o_orderdate").cast("long").alias("dom"),
        F.unix_micros(F.date_trunc("month", "o_orderdate")).alias("month_us"),
        F.datediff(
            F.lit("1999-01-01").cast("date"), F.col("o_orderdate").cast("date")
        ).cast("long").alias("days_to_1999"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("ymd"),
    )


@q(
    "ols_slope",
    """
    WITH q AS (
      SELECT l_returnflag,
             CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS x,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      FROM lineitem
    ),
    s AS (
      SELECT l_returnflag,
             count(*) AS n,
             CAST(sum(x) AS DOUBLE) / count(*) AS mx,
             CAST(sum(y) AS DOUBLE) / count(*) AS my,
             CAST(sum(x * y) AS DOUBLE) / count(*) AS mxy,
             CAST(sum(x * x) AS DOUBLE) / count(*) AS mxx
      FROM q GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           floor(((mxy - mx * my) / (mxx - mx * mx)) * 10000 + 0.5) / 10000
             AS slope,
           floor((my - ((mxy - mx * my) / (mxx - mx * mx)) * mx) * 100 + 0.5) / 100
             AS intercept_centi
    FROM s
    """,
)
def ols_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group closed-form OLS from integer centi-unit power sums — the
    regression/curve-fit family (the reference's AAC/IC50 recomputations
    are this shape) as ONE aggregation pass: no per-group applyInPandas, no
    iterative solver; power sums are exact integers that combine
    associatively map-side. Slope uses the MEAN form
    (Σxy/n − x̄ȳ)/(Σx²/n − x̄²), not n·Σxy − Σx·Σy: the product form
    overflows signed long once n·Σxy passes 2⁶³ (≈ sf0.1 here), while the
    mean form keeps every integer < 2⁶³ and mirrors the identical IEEE
    division/multiply sequence in both engines."""
    li = _t(spark, sf_dir, "lineitem")
    x = _rnd(F.col("l_quantity") * 100).cast("long")
    y = _rnd(F.col("l_extendedprice") * 100).cast("long")
    q_df = li.select("l_returnflag", x.alias("x"), y.alias("y"))
    n = F.count("*")
    mx = F.sum("x").cast("double") / n
    my = F.sum("y").cast("double") / n
    mxy = F.sum(F.col("x") * F.col("y")).cast("double") / n
    mxx = F.sum(F.col("x") * F.col("x")).cast("double") / n
    slope = (mxy - mx * my) / (mxx - mx * mx)
    return q_df.groupBy("l_returnflag").agg(
        n.alias("n"),
        _rnd(slope, 4).alias("slope"),
        _rnd(my - slope * mx, 2).alias("intercept_centi"),
    )


@q(
    "window_kit",
    """
    SELECT o_custkey, o_orderkey,
           CAST(lag(o_orderkey) OVER w AS BIGINT) AS prev_key,
           CAST(lead(o_orderkey) OVER w AS BIGINT) AS next_key,
           CAST(first_value(o_orderkey) OVER w AS BIGINT) AS first_key,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           CAST(rank() OVER w AS BIGINT) AS rnk
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-family breadth: lag/lead/first_value/ntile/rank over one per-
    customer window — one Exchange + one sort serves all five functions
    (same window spec ⇒ Spark evaluates them in a single Window operator).
    Partitioned windows only; no global ordering anywhere."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_orderkey").over(w).cast("long").alias("prev_key"),
        F.lead("o_orderkey").over(w).cast("long").alias("next_key"),
        F.first("o_orderkey").over(w).cast("long").alias("first_key"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.rank().over(w).cast("long").alias("rnk"),
    )


@q(
    "gap_fill_resample",
    """
    WITH e AS (
      SELECT user_id, epoch_ns(ts) // 1000 // 21600000000 AS b,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    obs AS (
      SELECT user_id, b, count(*) AS n_events,
             CAST(sum(cents) AS BIGINT) AS sum_centi
      FROM e GROUP BY user_id, b
    ),
    bounds AS (SELECT user_id, min(b) AS b0, max(b) AS b1
               FROM obs GROUP BY user_id),
    grid AS (SELECT user_id, unnest(generate_series(b0, b1)) AS b
             FROM bounds),
    joined AS (
      SELECT g.user_id, g.b, o.n_events, o.sum_centi
      FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.b = o.b
    )
    SELECT user_id, CAST(b AS BIGINT) AS bucket,
           CAST(coalesce(n_events, 0) AS BIGINT) AS n_events,
           CAST(coalesce(sum_centi, 0) AS BIGINT) AS sum_centi,
           CAST(last_value(sum_centi IGNORE NULLS) OVER
                  (PARTITION BY user_id ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS level_centi
    FROM joined
    """,
)
def gap_fill_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization (operators/timeseries.py): events
    resampled to a 6-hour grid per user (count + cent-quantized value sum),
    then densified over each user's [min, max] bucket span — missing
    buckets appear with zero-filled counts and a last-observation-carried-
    forward level column (running last-ignore-nulls window per user).
    Scale shape: one (user, bucket) partial-agg shuffle, native
    sequence/explode grid generation, one keyed window — no global sort,
    no driver loop. Cent quantization keeps every compared sum an exact
    integer in both engines."""
    from pharmacodi_spark.operators.timeseries import fill_gaps, resample

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("ts div 1000").alias("us"),
        _rnd(F.col("value") * 100).cast("long").alias("cents"),
    )
    res = resample(
        ev,
        bucket_width=21_600_000_000,
        time_col="us",
        key_cols=["user_id"],
        aggs={
            "n_events": F.count("*"),
            "sum_centi": F.sum("cents").cast("long"),
        },
    )
    out = fill_gaps(
        res,
        key_cols=["user_id"],
        zero_fill={"n_events": 0, "sum_centi": 0},
        carry_forward=["sum_centi"],
    )
    return out.select(
        "user_id",
        F.col("bucket").cast("long").alias("bucket"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_centi").cast("long").alias("sum_centi"),
        F.col("sum_centi_filled").cast("long").alias("level_centi"),
    )


@q(
    "rolling_anomaly",
    """
    WITH e AS (
      SELECT user_id, epoch_ns(ts) // 1000 // 21600000000 AS b,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    obs AS (
      SELECT user_id, b, CAST(sum(cents) AS BIGINT) AS s
      FROM e GROUP BY user_id, b
    ),
    roll AS (
      SELECT user_id, b, s,
             CAST(count(*) OVER w AS BIGINT) AS n_w,
             CAST(sum(s) OVER w AS BIGINT) AS sum_w,
             CAST(sum(s * s) OVER w AS BIGINT) AS sumsq_w
      FROM obs
      WINDOW w AS (PARTITION BY user_id ORDER BY b
                   ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, CAST(b AS BIGINT) AS bucket, s AS sum_centi,
           CAST(sum_w AS DOUBLE) / n_w AS mean_prev,
           CAST(n_w * s - sum_w AS DOUBLE)
             / sqrt(CAST(n_w AS DOUBLE)
                    * (n_w * sumsq_w - sum_w * sum_w)) AS z_score
    FROM roll
    WHERE n_w >= 3 AND n_w * sumsq_w - sum_w * sum_w > 0
    """,
)
def rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed anomaly scoring over the resampled series (the
    operators/timeseries.py grid turned into a detector): per user, each
    6-hour bucket's value sum is z-scored against the TRAILING 4 buckets
    (rows-between window excluding the current row — no self-leakage).
    Determinism: the window carries exact integer power sums (count, Σ,
    Σx²); mean and z are then single IEEE expressions over those integers —
    identical both engines, the same mean-form trick as dispersion_stats
    (never accumulate floats across rows). z = (n·x − Σ) / √(n·(n·Σx² −
    Σ²)) is the textbook form cleared of per-row divisions. One keyed
    shuffle; rows with fewer than 3 priors or zero variance are excluded
    (sqrt(0) denominators)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("ts div 1000 div 21600000000").alias("b"),
        _rnd(F.col("value") * 100).cast("long").alias("cents"),
    )
    obs = ev.groupBy("user_id", "b").agg(F.sum("cents").cast("long").alias("s"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("b")
        .rowsBetween(-4, -1)
    )
    roll = obs.select(
        "user_id",
        "b",
        "s",
        F.count("*").over(w).cast("long").alias("n_w"),
        F.sum("s").over(w).cast("long").alias("sum_w"),
        F.sum(F.col("s") * F.col("s")).over(w).cast("long").alias("sumsq_w"),
    )
    var_term = F.col("n_w") * F.col("sumsq_w") - F.col("sum_w") * F.col("sum_w")
    return (
        roll.where((F.col("n_w") >= 3) & (var_term > 0))
        .select(
            "user_id",
            F.col("b").cast("long").alias("bucket"),
            F.col("s").alias("sum_centi"),
            (F.col("sum_w").cast("double") / F.col("n_w")).alias("mean_prev"),
            (
                (F.col("n_w") * F.col("s") - F.col("sum_w")).cast("double")
                / F.sqrt(F.col("n_w").cast("double") * var_term)
            ).alias("z_score"),
        )
    )


@q(
    "topk_per_group",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    )
    WHERE rn <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (the grouped sibling of ``top_k_orders``'s global
    TakeOrderedAndProject): row_number over a per-priority window with a
    deterministic key tiebreak, filtered to k=3. Scale shape: column pruning
    leaves a (group, sort-key, id) shuffle — no payload columns ride the
    Exchange; AQE splits skewed groups across the sort. For tiny k over
    huge groups the next step is a threshold prefilter (estimate the k-th
    value per group with a sketch, filter, exact window on survivors) —
    documented, not needed at this cardinality."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )


@q(
    "interval_join_batch",
    """
    WITH e AS (
      SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us, event_type, value
      FROM events
    ),
    c AS (SELECT * FROM e WHERE event_type = 'click'),
    p AS (SELECT * FROM e WHERE event_type = 'purchase')
    SELECT c.event_id AS l_event_id, c.user_id AS l_key,
           CAST(c.us AS BIGINT) AS l_us,
           p.event_id AS r_event_id, CAST(p.us AS BIGINT) AS r_us,
           p.value AS r_value
    FROM c JOIN p
      ON c.user_id = p.user_id
     AND p.us <= c.us
     AND p.us >= c.us - 1800000000
    """,
)
def interval_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream interval join (streaming/ops.py::
    interval_stream_join — each click matched to same-user purchases within
    the 30-minute lookback): the SAME function run on batch frames, under
    the oracle gate. With this, every streaming operator has either an
    oracle-anchored batch twin or a batch/stream equivalence test, and the
    interval join now has both (equivalence in tests/test_streaming.py)."""
    from pharmacodi_spark.streaming.ops import events_ns_to_ts, interval_stream_join

    e = events_ns_to_ts(_t(spark, sf_dir, "events"))
    clicks = e.where(F.col("event_type") == "click")
    purchases = e.where(F.col("event_type") == "purchase")
    out = interval_stream_join(clicks, purchases, lookback="30 minutes")
    return out.select(
        "l_event_id",
        "l_key",
        F.unix_micros("l_ts").alias("l_us"),
        "r_event_id",
        F.unix_micros("r_ts").alias("r_us"),
        "r_value",
    )


@q(
    "conversion_funnel",
    """
    WITH e AS (
      SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us, event_type
      FROM events
    ),
    clickers AS (SELECT DISTINCT user_id FROM e WHERE event_type = 'click'),
    converted AS (
      SELECT DISTINCT c.user_id
      FROM e c JOIN e p
        ON c.user_id = p.user_id
       AND c.event_type = 'click' AND p.event_type = 'purchase'
       AND p.us >= c.us AND p.us <= c.us + 1800000000
    )
    SELECT CAST((SELECT count(*) FROM clickers) AS BIGINT) AS n_clickers,
           CAST((SELECT count(*) FROM converted) AS BIGINT) AS n_converted,
           CAST((SELECT count(*) FROM converted) AS DOUBLE)
             / (SELECT count(*) FROM clickers) AS conversion_rate
    """,
)
def conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analytics: distinct users with a click, the subset purchasing
    within 30 minutes AFTER some click, and the exact conversion ratio
    (long/long division — IEEE-identical both engines). The interval
    condition is the same bounded shape as the stream-stream join, so at
    scale the state/bucketing arguments carry over; here the distinct-user
    rollup keeps the shuffle at (user_id) width."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("ts div 1000").alias("us")
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "us")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("us").alias("p_us")
    )
    clickers = clicks.select("user_id").distinct()
    converted = (
        clicks.join(
            purchases,
            (clicks.user_id == purchases.p_user)
            & (purchases.p_us >= clicks.us)
            & (purchases.p_us <= clicks.us + 1_800_000_000),
        )
        .select("user_id")
        .distinct()
    )
    n_c = clickers.count()
    n_v = converted.count()
    return local_df(
        spark,
        [(n_c, n_v, float(n_v) / n_c)],
        ["n_clickers", "n_converted", "conversion_rate"],
        types=["long", "long", "double"],
    )


@q(
    "retention_cohorts",
    """
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(epoch_ns(ts) // 1000 // 604800000000 AS BIGINT) AS wk
      FROM events WHERE event_type = 'purchase'
    ),
    cohort AS (SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY user_id),
    sz AS (SELECT cohort_wk, count(*) AS cohort_size
           FROM cohort GROUP BY cohort_wk),
    act AS (
      SELECT c.cohort_wk, uw.wk - c.cohort_wk AS week_offset,
             count(*) AS n_active
      FROM uw JOIN cohort c ON uw.user_id = c.user_id
      GROUP BY c.cohort_wk, uw.wk - c.cohort_wk
    )
    SELECT a.cohort_wk, a.week_offset,
           CAST(a.n_active AS BIGINT) AS n_active,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           CAST(a.n_active AS DOUBLE) / s.cohort_size AS retention
    FROM act a JOIN sz s ON a.cohort_wk = s.cohort_wk
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention analytics (the classic triangle): users are cohorted
    by the epoch-week of their first purchase; each later purchase-active
    week counts
    toward (cohort, offset) with retention = active / cohort size as an exact
    long/long IEEE division. Scale shape: the only wide shuffle carries
    (user_id, week) pairs — events collapse to user-weeks FIRST, so the
    cohort-assignment join and min-week agg run on |users|·|weeks| rows, not
    |events|; the cohort-size table is O(weeks) and broadcast. Week index is
    pure integer division of the event-time microseconds, identical in both
    engines (timestamps are positive)."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("user_id", F.expr("ts div 1000 div 604800000000").alias("wk"))
    )
    uw = ev.distinct()
    cohort = uw.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    act = (
        uw.join(cohort, "user_id")
        .groupBy(
            "cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("week_offset")
        )
        .agg(F.count("*").alias("n_active"))
    )
    sz = cohort.groupBy("cohort_wk").agg(F.count("*").alias("cohort_size"))
    return act.join(F.broadcast(sz), "cohort_wk").select(
        "cohort_wk",
        "week_offset",
        F.col("n_active").cast("long").alias("n_active"),
        F.col("cohort_size").cast("long").alias("cohort_size"),
        (F.col("n_active").cast("double") / F.col("cohort_size")).alias(
            "retention"
        ),
    )


# ---------------------------------------------------------------------------
# Event-mix entropy per window (drift monitoring over the event stream)
# ---------------------------------------------------------------------------


@q(
    "window_mix_entropy",
    f"""
    WITH b AS (
      SELECT CAST(epoch_ns(ts) // 600000000000 AS BIGINT) * 600
               AS bucket_start,
             event_type
      FROM events
    ),
    c AS (SELECT bucket_start, event_type,
                 CAST(count(*) AS BIGINT) AS c
          FROM b GROUP BY 1, 2),
    n AS (SELECT bucket_start, CAST(sum(c) AS BIGINT) AS n,
                 CAST(count(*) AS BIGINT) AS n_types
          FROM c GROUP BY 1)
    SELECT n.bucket_start, n.n AS n_events, n.n_types,
           CAST(sum(c.c * ({_il("n.n")} - {_il("c.c")})) AS BIGINT)
             AS entropy_fp
    FROM c JOIN n USING (bucket_start)
    GROUP BY 1, 2, 3
    """,
)
def window_mix_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-mix entropy per 10-minute window: unnormalized Shannon
    entropy ``Σ c·(il(N) − il(c))`` in fixed-point integer log2 — the
    drift detector over a stream's category mix (a window whose entropy
    collapses is one source/event-type flooding the pipeline; a spike is
    new-category churn). Buckets are pure integer division on epoch-nanos
    (no timezone surface); counts collapse map-side; the entropy join
    runs on the windows × types table — metadata-scale."""
    from pharmacodi_spark.text.retrieval import ilog2_fp

    ev = _t(spark, sf_dir, "events")
    c = (
        ev.withColumn(
            "bucket_start", (F.expr("ts div 600000000000") * 600).cast("long")
        )
        .groupBy("bucket_start", "event_type")
        .agg(F.count("*").cast("long").alias("c"))
    )
    n = c.groupBy("bucket_start").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.count("*").cast("long").alias("n_types"),
    )
    j = c.join(n, "bucket_start")
    term = F.col("c") * (ilog2_fp(F.col("n_events")) - ilog2_fp(F.col("c")))
    return j.groupBy("bucket_start", "n_events", "n_types").agg(
        F.sum(term).cast("long").alias("entropy_fp")
    )
