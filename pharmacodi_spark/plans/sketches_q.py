"""Sketch and profile rows: CM, HLL, quantile, KMV, Bloom, PSI (operators/sketches, bloom, profile)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pharmacodi_spark.operators.partitioning import fan_out
from pharmacodi_spark.plans.queries import q, _t, _il


@q(
    "bloom_semi_equiv",
    """
    SELECT l_orderkey, l_linenumber, l_suppkey
    FROM lineitem
    WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_suppkey % 7 = 0)
    """,
)
def bloom_semi_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi join ≡ plain semi join (operators/bloom.py —
    same certification pattern as ``salted_join_equiv``): the fact scan
    drops guaranteed non-matches via 3 xxhash64 bit tests against a
    driver-built bitmap literal (pure codegen, no shuffle), and the exact
    left-semi finish on the survivors makes the result provably identical
    to the oracle's IN-subquery. The bitmap build cost is one tiny dim
    aggregation; the fact side never shuffles before the prefilter."""
    from pharmacodi_spark.operators.bloom import bloom_prefilter_semi_join

    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier").where(F.col("s_suppkey") % 7 == 0)
    out = bloom_prefilter_semi_join(
        li, supp, "l_suppkey", "s_suppkey", n_bits=1 << 14
    )
    return out.select("l_orderkey", "l_linenumber", "l_suppkey")


_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
_PROFILE_SQL = "\n    UNION ALL\n    ".join(
    f"""SELECT '{c}' AS "column",
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(min({c}) AS VARCHAR) AS min_str,
           CAST(max({c}) AS VARCHAR) AS max_str
    FROM orders"""
    for c in _PROFILE_COLS
)


@q("profile_table", _PROFILE_SQL)
def profile_table_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling (operators/profile.py): per-column nulls, exact
    distinct counts, min/max over orders, long format — ONE aggregation
    pass on the Spark side (the oracle re-derives per column; same values).
    String-typed min/max keeps heterogeneous columns in one schema; only
    integer/string/date columns are profiled here so the string rendering
    is engine-identical (float formatting is not — quantize first)."""
    from pharmacodi_spark.operators.profile import profile_table

    o = _t(spark, sf_dir, "orders")
    return profile_table(o, _PROFILE_COLS)


@q(
    "skew_diagnose",
    """
    WITH c AS (SELECT l_suppkey, count(*) AS n_rows FROM lineitem GROUP BY 1),
    t AS (SELECT count(*) AS n_total FROM lineitem)
    SELECT l_suppkey,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST((n_rows * 1000000) // (SELECT n_total FROM t) AS BIGINT)
             AS share_ppm,
           CAST((n_rows + 99) // 100 AS BIGINT) AS salt_factor
    FROM c ORDER BY n_rows DESC, l_suppkey LIMIT 15
    """,
)
def skew_diagnose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics (operators/profile.py::skew_profile):
    top-15 heaviest l_suppkey values with integer row share (ppm) and the
    salt factor that would cap each at 100 rows/task (scaled down to the
    fixture; production target_rows_per_task ~1e6).  The profile itself
    is skew-proof — groupBy partial-aggregates map-side so a hot key
    ships one combined row per input partition; the table total rides as
    a broadcast 1-row aggregate; top-k is TakeOrderedAndProject."""
    from pharmacodi_spark.operators.profile import skew_profile

    li = _t(spark, sf_dir, "lineitem")
    return skew_profile(li, "l_suppkey", top_k=15, target_rows_per_task=100)


# ---------------------------------------------------------------------------
# Count-min heavy hitters (operators/sketches.py::cm_sketch / cm_estimate)
# ---------------------------------------------------------------------------

_CM_D, _CM_W = 4, 1024


@q(
    "cm_heavy_hitters",
    f"""
    WITH tok AS (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS token
      FROM documents
    ),
    pairs AS (
      SELECT r.r AS row,
             CAST(('0x' || substr(md5('cm' || r.r || ':' || token), 1, 15))
                  AS BIGINT) % {_CM_W} AS bucket,
             token
      FROM tok CROSS JOIN (SELECT unnest(generate_series(0, {_CM_D - 1}))
                           AS r) r
    ),
    sk AS (SELECT row, bucket, CAST(count(*) AS BIGINT) AS c
           FROM pairs GROUP BY 1, 2),
    exact AS (SELECT token, CAST(count(*) AS BIGINT) AS exact_count
              FROM tok GROUP BY 1),
    top AS (SELECT token, exact_count FROM exact
            ORDER BY exact_count DESC, token LIMIT 10),
    est AS (
      SELECT p.token, CAST(min(sk.c) AS BIGINT) AS cm_est
      FROM (SELECT DISTINCT token, row, bucket FROM pairs
            WHERE token IN (SELECT token FROM top)) p
      JOIN sk USING (row, bucket)
      GROUP BY 1
    )
    SELECT top.token, top.exact_count, est.cm_est,
           CAST(est.cm_est - top.exact_count AS BIGINT) AS overcount
    FROM top JOIN est USING (token)
    """,
)
def cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min heavy hitters (operators/sketches.py): build the 4×1024
    counter table over the token stream (shuffle bounded at depth·width
    rows), point-query the exact top-10 tokens, and report the one-sided
    CM error (est ≥ exact always; over by ~2N/width w.h.p.). The sketch
    is the mergeable per-slice frequency summary for corpus monitoring;
    the exact side doubles as the oracle's ground truth."""
    from pharmacodi_spark.operators.sketches import cm_estimate, cm_sketch

    d = _t(spark, sf_dir, "documents")
    # the x4-hash explode is CPU-dense; spread the single-split fixture
    # scan first (no-op at corpus scale — the repeated_spans guard)
    toks = fan_out(d, "doc_id").select(
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("token")
    )
    sk = cm_sketch(toks, "token", depth=_CM_D, width=_CM_W)
    exact = toks.groupBy("token").agg(
        F.count("*").cast("long").alias("exact_count")
    )
    top = exact.orderBy(F.desc("exact_count"), F.asc("token")).limit(10)
    est = cm_estimate(
        sk, top.select("token"), "token", depth=_CM_D, width=_CM_W
    )
    return top.join(est, "token").select(
        "token",
        "exact_count",
        "cm_est",
        (F.col("cm_est") - F.col("exact_count")).cast("long").alias("overcount"),
    )


# ---------------------------------------------------------------------------
# Per-source exact length quantiles (operators/profile.py::group_quantiles)
# ---------------------------------------------------------------------------


@q(
    "source_length_quantiles",
    """
    WITH hist AS (
      SELECT source, n_chars, count(*) AS n
      FROM documents GROUP BY 1, 2
    ),
    cum AS (
      SELECT source, n_chars, n,
             sum(n) OVER (PARTITION BY source ORDER BY n_chars
                          ROWS UNBOUNDED PRECEDING) AS c,
             sum(n) OVER (PARTITION BY source) AS tot
      FROM hist
    )
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(min(CASE WHEN c >= (tot * 25 + 99) // 100 THEN n_chars END)
                AS BIGINT) AS p25,
           CAST(min(CASE WHEN c >= (tot * 50 + 99) // 100 THEN n_chars END)
                AS BIGINT) AS p50,
           CAST(min(CASE WHEN c >= (tot * 75 + 99) // 100 THEN n_chars END)
                AS BIGINT) AS p75,
           CAST(min(CASE WHEN c >= (tot * 95 + 99) // 100 THEN n_chars END)
                AS BIGINT) AS p95
    FROM cum GROUP BY source
    """,
)
def source_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact length quantiles
    (operators/profile.py::group_quantiles): percentile_disc-style
    smallest-value-reaching-ceil(n·q/100), computed on the per-(source,
    value) histogram — one corpus shuffle, cumulative window over distinct
    values within each source (metadata-scale), never a global sort. The
    distribution table batching policy and length-outlier caps read off.
    """
    from pharmacodi_spark.operators.profile import group_quantiles

    d = _t(spark, sf_dir, "documents")
    return group_quantiles(d, "n_chars", "source", qs=(25, 50, 75, 95))


# ---------------------------------------------------------------------------
# Snapshot drift PSI (operators/profile.py::distribution_psi)
# ---------------------------------------------------------------------------


@q(
    "corpus_drift_psi",
    f"""
    WITH b AS (
      SELECT doc_id,
             lang || '/' || CAST(length(bin(n_chars)) - 1 AS VARCHAR)
               AS bucket
      FROM documents
    ),
    cp AS (SELECT bucket, count(*) AS c_ref FROM b WHERE doc_id % 2 = 0
           GROUP BY 1),
    cq AS (SELECT bucket, count(*) AS c_cur FROM b WHERE doc_id % 2 = 1
           GROUP BY 1),
    tp AS (SELECT sum(c_ref) AS n_ref FROM cp),
    tq AS (SELECT sum(c_cur) AS n_cur FROM cq),
    j AS (
      SELECT coalesce(cp.bucket, cq.bucket) AS bucket,
             coalesce(cp.c_ref, 0) AS c_ref,
             coalesce(cq.c_cur, 0) AS c_cur
      FROM cp FULL OUTER JOIN cq ON cp.bucket = cq.bucket
    )
    SELECT bucket,
           CAST(c_ref AS BIGINT) AS c_ref,
           CAST(c_cur AS BIGINT) AS c_cur,
           CAST((c_ref * 1000000) // n_ref AS BIGINT) AS ppm_ref,
           CAST((c_cur * 1000000) // n_cur AS BIGINT) AS ppm_cur,
           CAST(((c_ref * 1000000) // n_ref - (c_cur * 1000000) // n_cur)
                * ({_il("c_ref + 1")} + {_il("n_cur")}
                   - {_il("c_cur + 1")} - {_il("n_ref")}) AS BIGINT)
             AS psi_term_fp
    FROM j, tp, tq
    """,
)
def corpus_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-over-crawl drift monitor
    (operators/profile.py::distribution_psi): PSI between the even- and
    odd-id snapshot halves over (lang, next-pow2 length class) buckets —
    exact integer ppm shares, fixed-point log ratio with Laplace +1 (no
    cross-products, int64-safe at any corpus size). Two metadata-scale
    histograms full-outer join; totals broadcast as 1-row aggregates."""
    from pharmacodi_spark.operators.profile import distribution_psi

    d = _t(spark, sf_dir, "documents")
    b = d.select(
        "doc_id",
        F.concat(
            F.col("lang"),
            F.lit("/"),
            (F.length(F.bin(F.col("n_chars"))) - 1).cast("string"),
        ).alias("bucket"),
    )
    return distribution_psi(
        b.where(F.col("doc_id") % 2 == 0),
        b.where(F.col("doc_id") % 2 == 1),
        "bucket",
    )


@q(
    "psi_drift_series",
    f"""
    WITH snaps AS (
      SELECT lang AS bucket, doc_id % 3 AS batch_id, count(*) AS c_cur
      FROM documents GROUP BY 1, 2
    ),
    cp AS (SELECT lang AS bucket, count(*) AS c_ref FROM documents
           WHERE doc_id % 2 = 0 GROUP BY 1),
    tp AS (SELECT sum(c_ref) AS n_ref FROM cp),
    batches AS (SELECT DISTINCT batch_id FROM snaps),
    universe AS (SELECT b.batch_id, cp.bucket, cp.c_ref
                 FROM batches b CROSS JOIN cp),
    j AS (
      SELECT batch_id, bucket,
             coalesce(u.c_ref, 0) AS c_ref,
             coalesce(s.c_cur, 0) AS c_cur
      FROM universe u FULL OUTER JOIN snaps s USING (batch_id, bucket)
    ),
    tq AS (SELECT batch_id, sum(c_cur) AS n_cur FROM snaps GROUP BY 1),
    terms AS (
      SELECT j.batch_id, tq.n_cur, tp.n_ref,
             ((c_ref * 1000000) // n_ref - (c_cur * 1000000) // n_cur)
             * ({_il("c_ref + 1")} + {_il("n_cur")}
                - {_il("c_cur + 1")} - {_il("n_ref")}) AS psi_term_fp
      FROM j JOIN tq USING (batch_id) CROSS JOIN tp
    )
    SELECT batch_id,
           CAST(sum(psi_term_fp) AS BIGINT) AS psi_fp,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(max(n_ref) AS BIGINT) AS n_ref,
           CAST(max(n_cur) AS BIGINT) AS n_cur
    FROM terms GROUP BY 1
    """,
)
def psi_drift_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift time series
    (operators/profile.py::psi_series_from_snapshots, VERDICT r6 item 5):
    every snapshot histogram — here the three ``doc_id % 3`` pseudo-crawls
    over language buckets, in production the per-micro-batch partitions
    ``streaming_bucket_snapshots`` maintains — PSI'd against one reference
    in a SINGLE plan: batches × ref-buckets universe, full-outer with the
    snapshots, per-batch totals joined broadcast. Everything after the two
    input aggregations is metadata-scale."""
    from pharmacodi_spark.operators.profile import psi_series_from_snapshots

    d = _t(spark, sf_dir, "documents")
    snaps = (
        d.select(F.col("lang").alias("bucket"), (F.col("doc_id") % 3).alias("batch_id"))
        .groupBy("bucket", "batch_id")
        .agg(F.count("*").cast("long").alias("c_cur"))
    )
    ref = d.where(F.col("doc_id") % 2 == 0).select(F.col("lang").alias("bucket"))
    return psi_series_from_snapshots(snaps, ref, "bucket")


# ---------------------------------------------------------------------------
# Deterministic md5-HLL distinct sketch (operators/sketches.py)
# ---------------------------------------------------------------------------

_HLL_M = 256
_HLL_W1 = 31  # W + 1
_HLL_NUM = 735 * 256 * 256 * (1 << 31)  # alpha_fp10 · m² · 2^(W+1)


def _hll_sql() -> str:
    return f"""
    WITH hh AS (
      SELECT source,
             CAST(('0x' || substr(md5('h:' || text), 1, 15)) AS BIGINT) AS h
      FROM documents
      WHERE text IS NOT NULL
    ),
    reg AS (
      SELECT source, h % {_HLL_M} AS j,
             CASE WHEN (h // {_HLL_M}) % {1 << 30} = 0 THEN {_HLL_W1}
                  ELSE {_HLL_W1}
                       - length(bin((h // {_HLL_M}) % {1 << 30})) END AS rho
      FROM hh
    ),
    mx AS (SELECT source, j, max(rho) AS m FROM reg GROUP BY 1, 2),
    per AS (
      SELECT source, count(*) AS n_hit,
             sum(CAST(1 AS BIGINT) << CAST({_HLL_W1} - m AS INT)) AS s_hit
      FROM mx GROUP BY 1
    ),
    fin AS (
      SELECT source, n_hit,
             {_HLL_M} - n_hit AS v_empty,
             ({_HLL_NUM}
              // (s_hit + ({_HLL_M} - n_hit)
                          * CAST({1 << 31} AS BIGINT))) // 1024 AS raw
      FROM per
    ),
    lc AS (
      SELECT source, v_empty, raw,
             CASE WHEN v_empty > 0
                  THEN ({_HLL_M * 1024}) // v_empty ELSE 1024 END AS q
      FROM fin
    ),
    lc2 AS (
      SELECT source, v_empty, raw, q,
             length(bin(q)) - 11 AS sh,
             q >> CAST(length(bin(q)) - 11 AS INT) AS r
      FROM lc
    ),
    lc3 AS (
      SELECT source, v_empty, raw, sh, r,
             ((r - 1024) * 1024) // (r + 1024) AS z
      FROM lc2
    ),
    est AS (
      SELECT source, v_empty,
             CASE WHEN v_empty > 0 AND raw * 2 < {5 * _HLL_M}
                  THEN ({_HLL_M} * (sh * 709 + 2 * z
                                    + (2 * z * z * z) // 3145728)) // 1024
                  ELSE raw END AS n_est
      FROM lc3
    ),
    ex AS (SELECT source, count(DISTINCT text) AS n_exact
           FROM documents GROUP BY 1)
    SELECT e.source,
           CAST(x.n_exact AS BIGINT) AS n_exact,
           CAST(e.n_est AS BIGINT) AS n_est,
           CAST(e.v_empty AS BIGINT) AS v_empty,
           CAST((abs(e.n_est - x.n_exact) * 1000000) // x.n_exact AS BIGINT)
             AS err_ppm
    FROM est e JOIN ex x USING (source)
    """


@q("hll_distinct", _hll_sql())
def hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct documents per source via the deterministic
    md5-HLL (operators/sketches.py::hll_md5_distinct) — the
    oracle-GATED sibling of the native DataSketches path (whose binary
    sketch is engine-specific and therefore pytest-only, the gap that
    module's docstring has carried since r3). Every step is integer:
    md5 register+rank, per-register max, one-denominator harmonic sum,
    fixed-point alpha multiply, and Flajolet's linear-counting
    small-range branch through the fixed-point log2 kit. The row also
    carries the exact distinct and the error in ppm — the sketch
    auditing itself.

    Scale shape: the sketch is ONE map-side-combining aggregate keyed by
    (source, register) — ≤256 rows per source survive the combine no
    matter how many documents — vs count(DISTINCT)'s shuffle of every
    distinct value. (The exact side here is fixture-scale audit;
    production reads the sketch alone.)"""
    from pharmacodi_spark.operators.sketches import hll_md5_distinct

    d = _t(spark, sf_dir, "documents")
    sk = hll_md5_distinct(d, "text", by=["source"])
    ex = d.groupBy("source").agg(
        F.countDistinct("text").cast("long").alias("n_exact")
    )
    return sk.join(ex, "source").select(
        "source",
        "n_exact",
        "n_est",
        "v_empty",
        F.expr("(abs(n_est - n_exact) * 1000000) div n_exact")
        .cast("long")
        .alias("err_ppm"),
    )


# ---------------------------------------------------------------------------
# log2-bucket quantile sketch audit (round 11: the third sketch leg —
# distinct = md5-HLL, frequency = count-min, quantiles = this)
# ---------------------------------------------------------------------------

_QSK_QS = [500_000, 900_000, 990_000]  # p50 / p90 / p99


def _quantile_sketch_sql() -> str:
    qs = ", ".join(str(q) for q in _QSK_QS)
    return f"""
    WITH v AS (
      SELECT source,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS v
      FROM documents
    ),
    sk AS (
      SELECT source,
             CASE WHEN v = 0 THEN -1 ELSE length(bin(v)) - 1 END AS b,
             count(*) AS n
      FROM v GROUP BY 1, 2
    ),
    cum AS (
      SELECT source, b,
             sum(n) OVER (PARTITION BY source ORDER BY b) AS cum,
             sum(n) OVER (PARTITION BY source) AS n_values
      FROM sk
    ),
    q AS (SELECT unnest([{qs}]) AS q_ppm),
    hit AS (
      SELECT source, q_ppm, min(b) AS b, max(n_values) AS n_values
      FROM cum CROSS JOIN q
      WHERE cum * 1000000 >= n_values * q_ppm
      GROUP BY 1, 2
    ),
    env AS (
      SELECT source, q_ppm, n_values,
             CASE WHEN b < 0 THEN 0
                  ELSE (CAST(1 AS BIGINT) << b) END AS lo,
             CASE WHEN b < 0 THEN 0
                  ELSE (CAST(1 AS BIGINT) << (b + 1)) - 1 END AS hi
      FROM hit
    ),
    ex AS (
      SELECT source, q_ppm, v AS exact_q FROM (
        SELECT source, q_ppm, v,
               row_number() OVER (PARTITION BY source, q_ppm
                                  ORDER BY v) AS rn,
               count(*) OVER (PARTITION BY source, q_ppm) AS n
        FROM v CROSS JOIN q)
      WHERE rn = (n * q_ppm + 999999) // 1000000
    )
    SELECT env.source,
           CAST(env.q_ppm AS BIGINT) AS q_ppm,
           CAST(env.n_values AS BIGINT) AS n_values,
           CAST(ex.exact_q AS BIGINT) AS exact_q,
           CAST(env.lo AS BIGINT) AS lo,
           CAST(env.hi AS BIGINT) AS hi,
           ex.exact_q BETWEEN env.lo AND env.hi AS in_envelope
    FROM env JOIN ex ON env.source = ex.source AND env.q_ppm = ex.q_ppm
    """


@q("quantile_sketch_audit", _quantile_sketch_sql())
def quantile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source p50/p90/p99 token-count envelopes from the log2-bucket
    quantile sketch (operators/sketches.py::log2_hist_*) next to the
    exact discrete quantiles — the sketch auditing itself, completing
    the mergeable-sketch family (distinct = md5-HLL ``hll_distinct``,
    frequency = count-min ``cm_heavy_hitters``, quantiles = this). Every
    estimate carries its PROVEN ``[2^b, 2^(b+1)-1]`` envelope — relative
    error ≤ 2× by construction, not probabilistic — and the row asserts
    the exact value lies inside it.

    Scale shape: the sketch is ONE map-side-combining aggregate keyed by
    (source, bucket) — ≤64 rows per source survive no matter how many
    documents scanned; the quantile walk is a window over that ≤64-row
    histogram (metadata-scale). The exact side's per-source sort window
    is the fixture-scale REFEREE (the hll_distinct n_exact pattern);
    production reads the sketch alone, and per-slice sketch states merge
    via log2_hist_merge without rescans."""
    from pyspark.sql import Window

    from pharmacodi_spark.operators.sketches import (
        log2_hist_quantiles,
        log2_hist_sketch,
    )

    d = _t(spark, sf_dir, "documents")
    v = d.select(
        "source",
        F.size(F.filter(F.split("text", " "), lambda x: x != ""))
        .cast("long")
        .alias("v"),
    )
    env = log2_hist_quantiles(
        log2_hist_sketch(v, "v", by=["source"]), _QSK_QS, by=["source"]
    )
    w = Window.partitionBy("source").orderBy("v")
    ranked = v.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy("source"))
    )
    ex = (
        ranked.select(
            "source", "v", "rn", "n",
            F.explode(
                F.array(*[F.lit(int(qq)) for qq in _QSK_QS])
            ).alias("q_ppm"),
        )
        .where(F.col("rn") == F.expr("(n * q_ppm + 999999) div 1000000"))
        .select(
            "source",
            F.col("q_ppm").cast("long").alias("q_ppm"),
            F.col("v").alias("exact_q"),
        )
    )
    return env.join(ex, ["source", "q_ppm"]).select(
        "source",
        "q_ppm",
        "n_values",
        "exact_q",
        "lo",
        "hi",
        F.col("exact_q").between(F.col("lo"), F.col("hi")).alias(
            "in_envelope"
        ),
    )


# ---------------------------------------------------------------------------
# Percentile gate answered from MERGED quantile-sketch state (round 12:
# the sketch-maintenance story E2E — VERDICT r11 item 6)
# ---------------------------------------------------------------------------

_PGS_PCT = 20  # keep the top 20% per source


def _percentile_gate_sketch_sql() -> str:
    return f"""
    WITH v AS (
      SELECT doc_id, source,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS v
      FROM documents
    ),
    -- two persisted slices, merged = union + re-sum (count addition is
    -- associative, so this equals sketching the corpus once)
    sk AS (
      SELECT source,
             CASE WHEN v = 0 THEN -1 ELSE length(bin(v)) - 1 END AS b,
             count(*) AS n
      FROM v WHERE doc_id % 2 = 0 GROUP BY 1, 2
      UNION ALL
      SELECT source,
             CASE WHEN v = 0 THEN -1 ELSE length(bin(v)) - 1 END AS b,
             count(*) AS n
      FROM v WHERE doc_id % 2 = 1 GROUP BY 1, 2
    ),
    merged AS (SELECT source, b, sum(n) AS n FROM sk GROUP BY 1, 2),
    cum AS (
      SELECT source, b,
             sum(n) OVER (PARTITION BY source ORDER BY b DESC) AS cum_top,
             sum(n) OVER (PARTITION BY source) AS n_values
      FROM merged
    ),
    gate AS (
      SELECT source, max(b) AS gate_b, max(n_values) AS n_values
      FROM cum
      WHERE cum_top >= (n_values * {_PGS_PCT}) // 100
        AND (n_values * {_PGS_PCT}) // 100 >= 1
      GROUP BY source
    ),
    g2 AS (
      SELECT source, n_values, gate_b,
             CASE WHEN gate_b < 0 THEN 0
                  ELSE (CAST(1 AS BIGINT) << gate_b) END AS gate_lo,
             CASE WHEN gate_b < 0 THEN 1
                  ELSE (CAST(1 AS BIGINT) << (gate_b + 1))
             END AS gate_hi_excl
      FROM gate
    ),
    thr AS (
      SELECT source, v AS thr FROM (
        SELECT source, v,
               row_number() OVER (PARTITION BY source ORDER BY v DESC)
                 AS rn,
               count(*) OVER (PARTITION BY source) AS n
        FROM v)
      WHERE rn = (n * {_PGS_PCT}) // 100
    )
    SELECT v.source,
           CAST(max(g2.n_values) AS BIGINT) AS n_values,
           CAST(max(g2.gate_b) AS BIGINT) AS gate_b,
           CAST(max(g2.gate_lo) AS BIGINT) AS gate_lo,
           CAST(sum(CASE WHEN v.v >= g2.gate_hi_excl THEN 1 ELSE 0 END)
                AS BIGINT) AS n_keep_strict,
           CAST(sum(CASE WHEN v.v >= thr.thr THEN 1 ELSE 0 END)
                AS BIGINT) AS n_keep_exact,
           CAST(sum(CASE WHEN v.v >= g2.gate_lo THEN 1 ELSE 0 END)
                AS BIGINT) AS n_keep_loose,
           (sum(CASE WHEN v.v >= g2.gate_hi_excl THEN 1 ELSE 0 END)
              <= sum(CASE WHEN v.v >= thr.thr THEN 1 ELSE 0 END))
           AND (sum(CASE WHEN v.v >= thr.thr THEN 1 ELSE 0 END)
              <= sum(CASE WHEN v.v >= g2.gate_lo THEN 1 ELSE 0 END))
             AS in_envelope
    FROM v JOIN g2 ON v.source = g2.source
           JOIN thr ON v.source = thr.source
    GROUP BY v.source
    """


@q("percentile_gate_sketch", _percentile_gate_sketch_sql())
def percentile_gate_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DCLM-style top-p% percentile gate answered from PERSISTED
    per-slice quantile-sketch state (operators/sketches.py::
    log2_hist_top_gate) instead of a corpus rescan — the E2E for the
    r11 sketch family's maintenance story: two doc_id-parity slices
    stand in for per-partition sketch states written by independent
    jobs; :func:`log2_hist_merge` folds them (with INFERRED group keys,
    the r12 guard); the ≤64-row-per-source histogram walk yields the
    gate bucket; and the row ASSERTS the proven envelope against the
    exact tie-keeping gate — ``n_strict ≤ n_exact ≤ n_loose``, where
    strict/loose gate at the bucket's upper/lower bound and the exact
    referee is text/selection.py::percentile_gate's threshold semantics
    (the ⌊n·p/100⌋-th largest score, ties kept).

    Scale shape: sketch = one map-side-combining aggregate per slice
    (≤64 rows/source survive); merge + gate walk are metadata-scale
    windows over the merged histogram; the thresholds broadcast back
    onto the corpus for the gate counts. The exact-threshold referee
    (per-source row_number window) is fixture-scale audit apparatus —
    production reads the sketch alone, which is the point: the gate
    comes from persisted state with NO rescan of history."""
    from pyspark.sql import Window

    from pharmacodi_spark.operators.sketches import (
        log2_hist_merge,
        log2_hist_sketch,
        log2_hist_top_gate,
    )

    d = _t(spark, sf_dir, "documents")
    v = d.select(
        "doc_id",
        "source",
        F.size(F.filter(F.split("text", " "), lambda x: x != ""))
        .cast("long")
        .alias("v"),
    )
    slices = [
        log2_hist_sketch(
            v.where(F.col("doc_id") % 2 == i), "v", by=["source"]
        )
        for i in (0, 1)
    ]
    gate = log2_hist_top_gate(log2_hist_merge(*slices), _PGS_PCT)
    w = Window.partitionBy("source").orderBy(F.desc("v"))
    thr = (
        v.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count("*").over(Window.partitionBy("source")))
        .where(F.col("rn") == F.expr(f"(n * {_PGS_PCT}) div 100"))
        .select("source", F.col("v").alias("thr"))
    )
    strict = F.sum((F.col("v") >= F.col("gate_hi_excl")).cast("int"))
    exact = F.sum((F.col("v") >= F.col("thr")).cast("int"))
    loose = F.sum((F.col("v") >= F.col("gate_lo")).cast("int"))
    return (
        v.join(F.broadcast(gate), "source")
        .join(F.broadcast(thr), "source")
        .groupBy("source")
        .agg(
            F.max("n_values").cast("long").alias("n_values"),
            F.max("gate_b").cast("long").alias("gate_b"),
            F.max("gate_lo").cast("long").alias("gate_lo"),
            strict.cast("long").alias("n_keep_strict"),
            exact.cast("long").alias("n_keep_exact"),
            loose.cast("long").alias("n_keep_loose"),
            ((strict <= exact) & (exact <= loose)).alias("in_envelope"),
        )
    )


# ---------------------------------------------------------------------------
# KMV bottom-k corpus-overlap sketch (round 12): the set-operations leg
# of the mergeable-sketch family (distinct=HLL, frequency=CM,
# quantiles=log2 hist, SET OPS=this)
# ---------------------------------------------------------------------------

_KMV_Q_K = 128


def _kmv_overlap_sql() -> str:
    # floor((k−1)·2^60 / h_k): both factors exact in double (mantissa
    # k−1; 2^60 a power of two), division/floor correctly rounded —
    # bit-identical to the Spark side's _kmv_est
    k = _KMV_Q_K
    est = (
        "CASE WHEN {n} < "
        + str(k)
        + " THEN {n} ELSE CAST(floor("
        + f"{float(k - 1)} * 1152921504606846976.0"
        + " / CAST({hk} AS DOUBLE)) AS BIGINT) END"
    )
    return f"""
    WITH t AS (
      SELECT doc_id % 3 AS m,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    g AS (
      SELECT m,
             unnest(list_transform(generate_series(1, len(toks) - 2),
                    i -> array_to_string(toks[i:i+2], ' '))) AS sh
      FROM t WHERE len(toks) >= 3
    ),
    ha AS (SELECT DISTINCT
             CAST(('0x' || substr(md5('kmv:' || sh), 1, 15)) AS BIGINT) AS h
           FROM g WHERE m IN (0, 1)),
    hb AS (SELECT DISTINCT
             CAST(('0x' || substr(md5('kmv:' || sh), 1, 15)) AS BIGINT) AS h
           FROM g WHERE m IN (1, 2)),
    ka AS (SELECT h FROM ha ORDER BY h LIMIT {k}),
    kb AS (SELECT h FROM hb ORDER BY h LIMIT {k}),
    un AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
           ORDER BY h LIMIT {k}),
    s AS (
      SELECT (SELECT count(*) FROM ka) AS na, (SELECT max(h) FROM ka) AS hka,
             (SELECT count(*) FROM kb) AS nb, (SELECT max(h) FROM kb) AS hkb,
             (SELECT count(*) FROM un) AS nu, (SELECT max(h) FROM un) AS hku,
             (SELECT count(*) FROM un
              WHERE h IN (SELECT h FROM ka)
                AND h IN (SELECT h FROM kb)) AS ncom
    )
    SELECT
      CAST({est.format(n="na", hk="hka")} AS BIGINT) AS n_a_est,
      CAST({est.format(n="nb", hk="hkb")} AS BIGINT) AS n_b_est,
      CAST({est.format(n="nu", hk="hku")} AS BIGINT) AS union_est,
      CAST(({est.format(n="nu", hk="hku")} * ncom) // nu AS BIGINT)
        AS inter_est,
      CAST((ncom * 1000000) // nu AS BIGINT) AS jaccard_ppm
    FROM s
    """


@q("kmv_overlap", _kmv_overlap_sql())
def kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-overlap estimation from KMV bottom-k sketches
    (operators/sketches.py::kmv_sketch/kmv_set_ops, r12) — "how much of
    the new crawl's shingle space overlaps the old?" answered from two
    ≤k-long sketches, never joining the corpora. Two document slices
    (doc_id % 3 ∈ {0,1} vs {1,2} — a real planted overlap) shingle into
    3-token windows (~13k distinct per slice at sf0.01, saturating
    k=128 so the ORDER-STATISTIC estimator — not the exact fallback —
    is what the oracle certifies); the combined bottom-k is itself the
    union's KMV sketch (the closure property), its in-both fraction the
    Jaccard estimate, everything deterministic md5 + integer/IEEE
    fixed-point.

    Scale shape (100 TB): each sketch is two map-side-combining
    aggregates — ≤ fan_in·k longs per group reach the exchange no
    matter the corpus size — and the overlap math joins two ONE-ROW
    relations. The exact alternative (bloom_decontam's semi-join or a
    distinct-distinct join) shuffles the full shingle space."""
    from pharmacodi_spark.operators.sketches import kmv_set_ops, kmv_sketch

    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    t = d.select((F.col("doc_id") % 3).alias("m"), toks.alias("toks")).where(
        F.size("toks") >= 3
    )
    sh = t.select(
        "m",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 2),
                lambda i: F.array_join(F.slice("toks", i, 3), " "),
            )
        ).alias("sh"),
    )
    ska = kmv_sketch(sh.where(F.col("m").isin(0, 1)), "sh", k=_KMV_Q_K)
    skb = kmv_sketch(sh.where(F.col("m").isin(1, 2)), "sh", k=_KMV_Q_K)
    return kmv_set_ops(ska, skb, k=_KMV_Q_K)


_KMV_MX_K = 64


def _kmv_matrix_sql() -> str:
    k = _KMV_MX_K
    est = (
        "CASE WHEN {n} < "
        + str(k)
        + " THEN {n} ELSE CAST(floor("
        + f"{float(k - 1)} * 1152921504606846976.0"
        + " / CAST({hk} AS DOUBLE)) AS BIGINT) END"
    )
    return f"""
    WITH t AS (
      SELECT source,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    g AS (
      SELECT source,
             unnest(list_transform(generate_series(1, len(toks) - 2),
                    i -> array_to_string(toks[i:i+2], ' '))) AS sh
      FROM t WHERE len(toks) >= 3
    ),
    hh AS (SELECT DISTINCT source,
             CAST(('0x' || substr(md5('kmv:' || sh), 1, 15)) AS BIGINT) AS h
           FROM g),
    ks AS (SELECT source, h FROM (
             SELECT source, h,
                    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
             FROM hh) WHERE rn <= {k}),
    srcs AS (SELECT DISTINCT source FROM ks),
    pairs AS (SELECT a.source AS source_a, b.source AS source_b
              FROM srcs a JOIN srcs b ON a.source < b.source),
    uh AS (
      SELECT DISTINCT p.source_a, p.source_b, k1.h
      FROM pairs p JOIN ks k1
        ON k1.source = p.source_a OR k1.source = p.source_b
    ),
    ub AS (SELECT source_a, source_b, h FROM (
             SELECT source_a, source_b, h,
                    row_number() OVER (PARTITION BY source_a, source_b
                                       ORDER BY h) AS rn
             FROM uh) WHERE rn <= {k}),
    st AS (
      SELECT u.source_a, u.source_b, count(*) AS nu, max(u.h) AS hku,
             sum(CASE WHEN ka.h IS NOT NULL AND kb.h IS NOT NULL
                      THEN 1 ELSE 0 END) AS ncom
      FROM ub u
      LEFT JOIN ks ka ON ka.source = u.source_a AND ka.h = u.h
      LEFT JOIN ks kb ON kb.source = u.source_b AND kb.h = u.h
      GROUP BY 1, 2
    ),
    sa AS (SELECT source, count(*) AS n, max(h) AS hk FROM ks GROUP BY 1),
    fin AS (
      SELECT st.source_a, st.source_b, st.nu, st.ncom,
             CAST({est.format(n="a.n", hk="a.hk")} AS BIGINT) AS n_a_est,
             CAST({est.format(n="b.n", hk="b.hk")} AS BIGINT) AS n_b_est,
             CAST({est.format(n="st.nu", hk="st.hku")} AS BIGINT)
               AS union_est
      FROM st
      JOIN sa a ON a.source = st.source_a
      JOIN sa b ON b.source = st.source_b
    )
    SELECT source_a, source_b, n_a_est, n_b_est, union_est,
           CAST((union_est * ncom) // nu AS BIGINT) AS inter_est,
           CAST((ncom * 1000000) // nu AS BIGINT) AS jaccard_ppm
    FROM fin
    """


@q("kmv_source_matrix", _kmv_matrix_sql())
def kmv_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs source-overlap surface from per-source KMV sketches
    (operators/sketches.py::kmv_overlap_matrix, r12) — "which sources
    duplicate each other?" as one row per unordered source pair with
    distinct/union/intersection/Jaccard estimates. 20 sources at any sf
    → a fixed 190-row matrix, every estimate deterministic md5 +
    integer/IEEE fixed-point (bit-identical to the oracle's
    row_number-bottom-k + `//` arithmetic).

    Scale shape (100 TB): the per-source sketches are ONE bounded
    aggregate over the corpus (≤ fan_in·k longs per source reach the
    exchange); the S·(S−1)/2 pair expansion then runs on S rows of ≤k
    longs — index metadata, broadcast-size — so the overlap surface
    costs one corpus scan regardless of S, where the exact alternative
    is S² corpus self-joins."""
    from pharmacodi_spark.operators.sketches import (
        kmv_overlap_matrix,
        kmv_sketch,
    )

    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    t = d.select("source", toks.alias("toks")).where(F.size("toks") >= 3)
    sh = t.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 2),
                lambda i: F.array_join(F.slice("toks", i, 3), " "),
            )
        ).alias("sh"),
    )
    sk = kmv_sketch(sh, "sh", k=_KMV_MX_K, by=["source"])
    return kmv_overlap_matrix(sk, key="source", k=_KMV_MX_K)
