"""Second batch of north-star extension queries (SURVEY §7.1 step 7):
SimHash near-dedup, embedding-cosine near-dup, BPE-ish token counting,
quality scoring, sliding event windows, watermark-dedup batch twin, JSON
property flattening, multimodal mapInPandas features, and the §7.3
hard-part — dense surrogate keys on a *fact* table without a global window.

Same cross-engine determinism strategy as plans/extensions.py: md5-derived
integer hashes, integer-quantized vector math, exact integer-ratio doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window

from pharmacodi_spark.functions.scalar import local_df
from pyspark.sql import functions as F

from pharmacodi_spark.operators.partitioning import fan_out
from pharmacodi_spark.plans.queries import q, _t, _rnd, _sim_sql

# ---------------------------------------------------------------------------
# SimHash (dedup family, SURVEY §7.1 step 7; library twin: text/dedup.py)
# ---------------------------------------------------------------------------

_SIM_SQL = _sim_sql()


@q("simhash_fingerprint", f"SELECT doc_id, simhash16 FROM ({_SIM_SQL})")
def simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints: per token a 60-bit md5-sliced hash; per bit j,
    sum(±1) over tokens; fingerprint bit j = sign of the sum. Near-dups then
    differ in few bits. One explode + one groupBy with 16 conditional sums —
    all codegen'd; the shuffle carries (doc_id, 16 ints), never text. The
    64-bit production variant (xxhash64) is text/dedup.py::simhash; this
    16-bit md5 build (text/dedup.py::md5_simhash) exists so the whole
    fingerprint is oracle-checkable."""
    from pharmacodi_spark.text.dedup import md5_simhash

    return md5_simhash(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.col("simhash").alias("simhash16")
    )


@q(
    "simhash_near_pairs",
    f"""
    WITH sim AS ({_SIM_SQL}),
    b AS (SELECT doc_id, simhash16, simhash16 // 256 AS bucket FROM sim)
    SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash16, b2.simhash16)) AS BIGINT) AS hamming
    FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id
    WHERE bit_count(xor(a.simhash16, b2.simhash16)) <= 3
    """,
)
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidate pairs: bucket by the top 8 fingerprint bits
    (near-dups share the prefix with high probability), exact Hamming filter
    via bit_count(a XOR b) ≤ 3 within buckets.

    Runs through the library's capped path (text/dedup.py::
    simhash_near_pairs with max_cell_size=256): sign-of-sum prefixes are
    BIASED, so prefix buckets skew hard — the sf1 probe measured one bucket
    holding 2,405 of 50k docs, i.e. ~2.9M pair checks and a 2,405-element
    collect_list in ONE task under the old array expansion (7.1x sf0.1→sf1
    wall-clock, BENCH r5). The triangle-block re-split spreads that bucket
    over s(s+1)/2 bounded join tasks with the IDENTICAL pair set, so this
    oracle row also exercises the guard on naturally-skewed buckets."""
    from pharmacodi_spark.text.dedup import md5_simhash, simhash_near_pairs as _snp

    sim = md5_simhash(_t(spark, sf_dir, "documents"))
    out = _snp(
        sim, max_hamming=3, prefix_bits=8, bits=16, max_cell_size=256
    )
    return out.select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (dedup family; scale path: text/similarity.py LSH)
# ---------------------------------------------------------------------------


@q(
    "embedding_near_dup",
    """
    WITH un AS (
      SELECT vec_id,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS qv,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings WHERE vec_id < 200
    ),
    dots AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             CAST(sum(a.qv * b.qv) AS BIGINT) AS dot
      FROM un a JOIN un b ON a.pos = b.pos AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    ),
    norms AS (SELECT vec_id, CAST(sum(qv * qv) AS BIGINT) AS n2 FROM un GROUP BY vec_id)
    SELECT d.vec_a, d.vec_b,
           floor((CAST(d.dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)))
                 * 10000 + 0.5) / 10000 AS cosine
    FROM dots d
    JOIN norms na ON d.vec_a = na.vec_id
    JOIN norms nb ON d.vec_b = nb.vec_id
    WHERE CAST(d.dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) >= 0.3
    """,
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine ≥ 0.3), all-integer dot/norm
    math → one exact double division per pair, bit-identical across engines.
    Bounded to vec_id < 200: the quadratic all-pairs form is the *referee*;
    the scale path is hyperplane-LSH bucketing (text/similarity.py::
    lsh_bucket_topk) where only within-bucket pairs are scored."""
    e = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    un = e.select("vec_id", F.posexplode("embedding").alias("pos", "val")).select(
        "vec_id",
        "pos",
        _rnd(F.col("val").cast("double") * 10000).cast("long").alias("qv"),
    )
    a, b = un.alias("a"), un.alias("b")
    dots = (
        a.join(b, on="pos")
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .groupBy(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .agg(F.sum(F.col("a.qv") * F.col("b.qv")).cast("long").alias("dot"))
    )
    norms = un.groupBy("vec_id").agg(
        F.sum(F.col("qv") * F.col("qv")).cast("long").alias("n2")
    )
    na, nb = norms.alias("na"), norms.alias("nb")
    cosine = F.col("dot").cast("double") / F.sqrt(
        F.col("na.n2").cast("double") * F.col("nb.n2").cast("double")
    )
    return (
        dots.join(F.broadcast(na), F.col("vec_a") == F.col("na.vec_id"))
        .join(F.broadcast(nb), F.col("vec_b") == F.col("nb.vec_id"))
        .where(cosine >= 0.3)
        .select("vec_a", "vec_b", _rnd(cosine, 4).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Text analysis: BPE-ish tokenization + quality scoring (north star)
# ---------------------------------------------------------------------------

_BPE_PAT = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@q(
    "token_count_bpe",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_PAT}')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(regexp_extract_all(text, '{_BPE_PAT}'))) AS BIGINT)
             AS n_distinct_tokens
    FROM documents
    """,
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: a byte-pair-style pre-tokenizer regex
    (letter runs | digit runs | single punctuation) via regexp_extract_all —
    the standard LLM-corpus token-budget estimator. Single narrow projection,
    no explode, no UDF: the token arrays never leave the scan stage."""
    d = _t(spark, sf_dir, "documents")
    toks = F.regexp_extract_all("text", F.lit(_BPE_PAT), 0)
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
    )


@q(
    "quality_score",
    """
    SELECT doc_id,
           CAST(length(regexp_replace(text, '[^.!?,;]', '', 'g')) AS BIGINT) AS n_punct,
           CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit,
           CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS BIGINT) AS n_upper,
           floor((CAST(length(regexp_replace(text, '[^.!?,;]', '', 'g')) AS DOUBLE) / n_chars
                  + 2.0 * CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / n_chars
                  + 0.5 * CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) / n_chars)
                 * 10000 + 0.5) / 10000 AS noise_score
    FROM documents
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: punctuation / digit / uppercase densities
    composed into a noise score (high ⇒ boilerplate/tables/code, the
    C4/Gopher-rule family). Counts via regexp_replace+length — pure codegen,
    one pass over the scan, exact integer-ratio doubles."""
    d = _t(spark, sf_dir, "documents")

    def cnt(pat: str) -> F.Column:
        return F.length(F.regexp_replace("text", pat, ""))

    n_punct, n_digit, n_upper = cnt(r"[^.!?,;]"), cnt(r"[^0-9]"), cnt(r"[^A-Z]")
    nc = F.col("n_chars").cast("double")
    noise = n_punct / nc + 2.0 * n_digit / nc + 0.5 * n_upper / nc
    return d.select(
        "doc_id",
        n_punct.cast("long").alias("n_punct"),
        n_digit.cast("long").alias("n_digit"),
        n_upper.cast("long").alias("n_upper"),
        _rnd(noise, 4).alias("noise_score"),
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
# JSON property flattening (SURVEY §2.8 R4 — dict-in-cell → columns)
# ---------------------------------------------------------------------------


@q(
    "json_props_extract",
    """
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4 (flatten dict column) on the events fixture: ``props`` holds JSON;
    extract ``$.k`` natively (get_json_object — JVM-side Jackson, no UDF;
    the reference json_normalize's dict cells at get_chembl_targets.py:32-38)
    and aggregate per event_type. At scale the extraction sits inside the
    scan's codegen stage; only (event_type, k) reach the shuffle."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).cast("long").alias("sum_k"),
        F.min(k).cast("long").alias("min_k"),
        F.max(k).cast("long").alias("max_k"),
    )


# ---------------------------------------------------------------------------
# Multimodal: mapInPandas feature extraction with an exact oracle
# ---------------------------------------------------------------------------


@q(
    "multimodal_features",
    """
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           CAST(length(text) AS BIGINT) AS n_bytes,
           CAST(ascii(substr(text, 1, 1)) / 255.0 AS REAL) AS feat0
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing, end-to-end checked: documents become binary
    payloads (utf-8 encode) with typed media metadata, run through the
    Arrow-batched ``mapInPandas`` decode/feature stage (multimodal.py::
    extract_features, deterministic fake decoder — container has no codec
    libs), and the first feature dimension is verified against a pure-SQL
    oracle (byte₀/255 as float32). Proves schema, batch shape, and UDF
    signature carry exact values — swap the injected decoder for PIL/ffmpeg
    without touching the plan."""
    from pharmacodi_spark.multimodal import extract_features

    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
    )
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.element_at("feat", 1).alias("feat0"),
    )


# ---------------------------------------------------------------------------
# Time-series / interval joins Spark lacks as primitives (SURVEY §2.3 note:
# "Not present in reference: theta/range/as-of joins" — engine extensions,
# built as compositions of DataFrame ops per the custom-operator policy)
# ---------------------------------------------------------------------------


@q(
    "asof_join",
    """
    WITH s AS (
      SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us, event_type,
             CASE WHEN event_type = 'purchase' THEN value END AS pval
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    w AS (
      SELECT event_id, user_id, us, event_type,
             last_value(pval IGNORE NULLS) OVER win AS last_purchase_value,
             last_value(CASE WHEN event_type = 'purchase' THEN us END IGNORE NULLS)
               OVER win AS last_purchase_us
      FROM s
      WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, CAST(us AS BIGINT) AS click_us,
           last_purchase_value,
           CAST(last_purchase_us AS BIGINT) AS last_purchase_us
    FROM w WHERE event_type = 'click'
    """,
)
def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (each click ← most recent prior-or-simultaneous purchase
    per user), via the scalable union-streams + last-ignore-nulls-window
    plan: interleave both sides in ONE shuffle partitioned by the join key,
    carry the right side's values forward in event-time order. No per-key
    loop, no range self-join — cost is a single sort-shuffle of both inputs,
    the same bound as a merge-based as-of join in kdb/QuestDB. Ordering key
    (µs, event_id) is total, so the result is deterministic on both
    engines; clicks with no prior purchase keep nulls."""
    ev = _t(spark, sf_dir, "events")
    us = F.expr("ts div 1000")
    s = ev.where(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        us.alias("us"),
        "event_type",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("pval"),
    )
    win = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w = s.select(
        "event_id",
        "user_id",
        "us",
        "event_type",
        F.last("pval", ignorenulls=True).over(win).alias("last_purchase_value"),
        F.last(
            F.when(F.col("event_type") == "purchase", F.col("us")), ignorenulls=True
        )
        .over(win)
        .alias("last_purchase_us"),
    )
    return w.where(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        F.col("us").cast("long").alias("click_us"),
        "last_purchase_value",
        F.col("last_purchase_us").cast("long").alias("last_purchase_us"),
    )


_TIERS = [("t1", 0, 75), ("t2", 75, 180), ("t3", 180, 310), ("t4", 310, 501)]


@q(
    "range_join",
    f"""
    SELECT t.tier, count(*) AS n_events,
           floor(sum(e.value) * 100 + 0.5) / 100 AS sum_value
    FROM events e
    JOIN (VALUES {", ".join(f"('{t}', {lo}, {hi})" for t, lo, hi in _TIERS)})
         t(tier, lo, hi)
      ON e.value >= t.lo AND e.value < t.hi
    GROUP BY t.tier
    """,
)
def range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join — events matched to value tiers — via the
    bucketed-interval pattern: explode each interval into the fixed-width
    buckets it covers, EQUI-join on the bucket, then apply the residual
    range predicate. A naive theta join is O(|events|·|tiers|) nested-loop
    broadcast; the bucket equi-join hash-partitions both sides, turning it
    into O(|events| + Σ covered buckets) — the standard trick for interval
    joins at scale (and what AQE cannot derive on its own)."""
    ev = _t(spark, sf_dir, "events")
    tiers = local_df(spark, _TIERS, ["tier", "lo", "hi"])
    bucketed_tiers = tiers.select(
        "tier",
        "lo",
        "hi",
        F.explode(
            F.sequence(F.expr("lo div 50"), F.expr("(hi - 1) div 50"))
        ).alias("bucket"),
    )
    e = ev.withColumn("bucket", F.floor(F.col("value") / 50))
    return (
        e.join(
            F.broadcast(bucketed_tiers),
            (e.bucket == bucketed_tiers.bucket)
            & (e.value >= bucketed_tiers.lo)
            & (e.value < bucketed_tiers.hi),
        )
        .groupBy("tier")
        .agg(
            F.count("*").alias("n_events"),
            _rnd(F.sum("value"), 2).alias("sum_value"),
        )
    )


@q(
    "cube_stats",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           count(*) AS n,
           CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS qty_centi
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus) with grouping_id — the
    grouping-sets family the reference lacks entirely (SURVEY §2.4 note:
    Spark provides cube/rollup free). Quantities summed as integer
    centi-units so every grouping level is exact on both engines. One pass:
    Spark expands the cube map-side and partial-aggregates all 4 grouping
    sets before the single shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count("*").alias("n"),
        F.sum(_rnd(F.col("l_quantity") * 100).cast("long")).cast("long").alias("qty_centi"),
    )


# ---------------------------------------------------------------------------
# S9: record-oriented flat-text parse (the Cellosaurus source), driver-gated
# ---------------------------------------------------------------------------


@q(
    "record_text_parse",
    """
    SELECT CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS entry_id,
           'doc' || CAST(doc_id AS VARCHAR) AS "ID",
           lang AS "LG",
           source AS "SR"
    FROM documents
    WHERE doc_id < 2000
    """,
)
def record_text_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 end-to-end under the oracle gate: materialize a Cellosaurus-shaped
    ``//``-delimited record flat file (deterministically derived from the
    documents table: 3 header lines, then ID/LG/SR code lines + ``//`` per
    record), parse it with sources/record_text.py::parse_record_text —
    wholetext → array split per file, groupBy+pivot record assembly, zero
    Python in the data path — and verify the reassembled wide records
    against the source-of-truth SQL. (reference: build_cellosaurus.py:45-63.)

    The fixture write collects at most 2000 rows (doc_id < 2000, mirrored in
    the oracle predicate) so driver memory is bounded regardless of the sf
    the driver passes."""
    import os

    from pharmacodi_spark.sources.record_text import parse_record_text

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 2000)
    rows = (
        d.select("doc_id", "lang", "source").orderBy("doc_id").collect()
    )  # bounded (≤2000 rows) collect to WRITE the fixture file, not a dataflow step
    path = f"/tmp/spark_graft_records_{os.path.basename(sf_dir.rstrip('/'))}.txt"
    with open(path, "w") as f:
        f.write("header line 1\nheader line 2\nheader line 3\n")
        for r in rows:
            f.write(f"ID   doc{r['doc_id']}\n")
            f.write(f"LG   {r['lang']}\n")
            f.write(f"SR   {r['source']}\n")
            f.write("//\n")
    parsed = parse_record_text(
        spark, path, header_lines=3, codes=["ID", "LG", "SR"]
    )
    return parsed.withColumn("entry_id", F.col("entry_id").cast("long"))


# ---------------------------------------------------------------------------
# S3/S4: glob-union shard loader + X4/X5 API connector, driver-gated
# ---------------------------------------------------------------------------


@q(
    "glob_union_shards",
    """
    SELECT doc_id, lang, source, n_chars FROM documents
    """,
)
def glob_union_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S4 end-to-end under the oracle gate: shard the documents table
    into a per-PSet-style directory layout ({shard}/{shard}_documents.
    parquet — reference combine_pset_tables.py:213-234 globs
    {pset}/{pset}_{name}.jay), write one shard file with a column dropped
    (exercising missing-column tolerance ≡ rbind(force=True)), then
    glob-union-dedupe with io.load_table_all_shards and verify the
    reassembled table equals the source. One scan node covers all shards —
    at 100 TB the glob is a single partition-parallel read, not N reads."""
    import os

    from pharmacodi_spark.io import load_table_all_shards

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "n_chars")
    base = f"/tmp/spark_graft_shards_{os.path.basename(sf_dir.rstrip('/'))}"
    marker = os.path.join(base, "_written")
    if not os.path.exists(marker):
        for s in range(3):
            shard = d.where(F.col("doc_id") % 3 == s)
            if s == 2:
                shard = shard.drop("n_chars")  # missing-column shard
            shard.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(base, f"p{s}", f"p{s}_documents.parquet")
            )
        open(marker, "w").close()
    loaded = load_table_all_shards(spark, "documents", base)
    # the dropped shard's n_chars arrives as nulls (the padding under test);
    # coalesce with the source value so the oracle is the original table
    return loaded.join(
        F.broadcast(d.select("doc_id", F.col("n_chars").alias("__src_n"))),
        "doc_id",
    ).select(
        "doc_id",
        "lang",
        "source",
        F.coalesce(F.col("n_chars"), F.col("__src_n")).alias("n_chars"),
    )


@q(
    "api_connector_enrich",
    """
    SELECT n_name,
           CAST(length(n_name) AS BIGINT) AS name_len,
           upper(n_name) AS name_upper
    FROM nation
    """,
)
def api_connector_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4/X5 under the oracle gate: the batched ``mapInPandas`` API
    connector (sources/api.py::fetch_batched — executor-side fan-out,
    chunking, retries) run with a deterministic in-process 'API' whose
    responses are SQL-reproducible (length + upper of the queried id), so
    the whole connector path — Arrow batch slicing, per-chunk fetch, schema
    conformance — is value-checked, not just smoke-tested. Deployments swap
    the fetcher for HTTP (reference mp.Pool fan-outs,
    get_chembl_compound_targets.py:92-113)."""
    import pandas as pd

    from pharmacodi_spark.sources.api import fetch_batched

    def fake_api(batch: list) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "n_name": batch,
                "name_len": [len(x) for x in batch],
                "name_upper": [x.upper() for x in batch],
            }
        )

    names = _t(spark, sf_dir, "nation").select("n_name")
    return fetch_batched(
        names,
        fetcher=fake_api,
        out_schema="n_name string, name_len long, name_upper string",
        batch_size=7,
    )


@q(
    "csv_na_roundtrip",
    """
    SELECT n_nationkey,
           CASE WHEN n_name = 'CANADA' THEN NULL ELSE n_name END AS name_or_null,
           n_regionkey
    FROM nation
    """,
)
def csv_na_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV path under the oracle gate (S12 sink + S1 csv reader + S5 ``NA``
    sentinel): null one value, write CSV with nulls encoded as ``NA``
    (reference writes csv at combine_pset_tables.py:162-163 and reads with
    ``null_values="NA"``, build_synonym_tables.py:37 — its polars tissue
    reader read NA as the STRING 'NA', the :97 pitfall), read it back with
    io.load's NA-sentinel default, and verify values — proving the null
    survives the round-trip as a real null, not the string."""
    import os

    from pharmacodi_spark.io import load

    n = _t(spark, sf_dir, "nation").select(
        "n_nationkey",
        F.when(F.col("n_name") == "CANADA", None)
        .otherwise(F.col("n_name"))
        .alias("name_or_null"),
        "n_regionkey",
    )
    path = f"/tmp/spark_graft_csv_{os.path.basename(sf_dir.rstrip('/'))}"
    n.coalesce(1).write.mode("overwrite").option("header", "true").option(
        "nullValue", "NA"
    ).csv(path)
    back = load(
        spark,
        path,
        fmt="csv",
        schema="n_nationkey long, name_or_null string, n_regionkey long",
    )
    return back


# ---------------------------------------------------------------------------
# §7.3 hard part: dense surrogate keys on a fact table, no global window
# ---------------------------------------------------------------------------


@q(
    "surrogate_key_fact",
    """
    SELECT CAST(row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS BIGINT) AS id,
           l_orderkey, l_linenumber
    FROM lineitem
    """,
)
def surrogate_key_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 1..n surrogate ids on a FACT table — the §7.3 scale hazard.
    The reference assigns ids by single-node row order
    (combine_pset_tables.py:345-348); a global ``row_number()`` window would
    serialize 10⁸ rows through one task. Instead: range-repartition on the
    sort key (so partition i's keys all precede partition i+1's), local
    ``row_number`` per partition, then add per-partition offsets computed
    from a 32-row count table (broadcast). Ids are identical to the global
    window's for a unique sort key, but every stage is parallel; the only
    single-task step touches N_partitions rows. Library op:
    operators/keys.py::surrogate_key(dense_global=True)."""
    from pharmacodi_spark.operators.keys import surrogate_key

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    return surrogate_key(
        li, order_by=["l_orderkey", "l_linenumber"], dense_global=True
    ).select("id", "l_orderkey", "l_linenumber")


# ---------------------------------------------------------------------------
# Near-dup clusters → keeper drop-list (VERDICT r1 item 5)
# ---------------------------------------------------------------------------


@q(
    "near_dup_droplist",
    """
    WITH RECURSIVE edges0 AS (
      SELECT d.doc_id AS u, d.doc_id + 1 AS v
      FROM documents d JOIN documents e ON e.doc_id = d.doc_id + 1
      WHERE (d.doc_id + 1) % 5 != 0
        AND CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4 != 0
    ),
    edges AS (SELECT u, v FROM edges0 UNION SELECT v, u FROM edges0),
    reach(node, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
    ),
    comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node)
    SELECT node AS doc_id, component, component = node AS keep FROM comp
    """,
)
def near_dup_droplist_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs → connected components → keeper drop-list
    (text/clusters.py): iterative hash-min label propagation over a
    deterministic fixture graph (chain edges within groups of 5 doc_ids,
    ~25% knocked out by an md5 predicate → varied component shapes:
    chains, split chains, singletons). The DuckDB oracle re-derives the
    components with a recursive CTE (min reachable label), so the Spark
    loop's convergence — not just its output shape — is value-checked.
    In production the edge list is minhash_near_dup_pairs/simhash output."""
    from pharmacodi_spark.text.clusters import near_dup_droplist

    ids = _t(spark, sf_dir, "documents").select("doc_id")
    nxt = (F.col("doc_id") + 1).alias("v")
    knock = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 4 != 0
    )
    pairs = (
        ids.select("doc_id", nxt)
        .where((F.col("v") % 5 != 0) & knock)
        .join(ids.select(F.col("doc_id").alias("v")), "v")
        .select(F.col("doc_id").alias("doc_a"), F.col("v").alias("doc_b"))
    )
    return near_dup_droplist(ids, pairs, edges_canonical=True)


# ---------------------------------------------------------------------------
# Multimodal native plans (frame sampling + resize geometry), driver-gated
# ---------------------------------------------------------------------------


@q(
    "multimodal_plans",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             CAST(100 + doc_id % 1820 AS INTEGER) AS width,
             CAST(80 + doc_id % 1000 AS INTEGER) AS height,
             n_chars * 7 AS duration_ms
      FROM documents
    ),
    frames AS (
      SELECT media_id, 'frame' AS item,
             CAST(unnest(generate_series(0, GREATEST(duration_ms - 1, 0), 1000)) AS BIGINT) AS a,
             CAST(NULL AS BIGINT) AS b
      FROM m WHERE kind = 'video'
    ),
    resized AS (
      SELECT media_id, 'resize' AS item,
             CAST(CEIL(width * LEAST(1.0, 256.0 / GREATEST(width, height))) AS BIGINT) AS a,
             CAST(CEIL(height * LEAST(1.0, 256.0 / GREATEST(width, height))) AS BIGINT) AS b
      FROM m
    )
    SELECT * FROM frames UNION ALL SELECT * FROM resized
    """,
)
def multimodal_plans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two native multimodal *plan* stages (multimodal.py::
    frame_sample_plan, resize_plan) under the oracle gate: the frame-ts
    grid (sequence+explode over duration metadata — decode fans out over
    frames, not videos) and the aspect-preserving resize geometry
    (computed in the plan so Catalyst prunes before any Python decode).
    Both are pure sequence/float arithmetic, exactly expressible in DuckDB;
    unioned into one (media_id, item, a, b) frame for a single hash."""
    from pharmacodi_spark.multimodal import frame_sample_plan, resize_plan

    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        (F.lit(100) + F.col("doc_id") % 1820).cast("int").alias("width"),
        (F.lit(80) + F.col("doc_id") % 1000).cast("int").alias("height"),
        (F.col("n_chars") * 7).alias("duration_ms"),
    )
    frames = frame_sample_plan(media, every_ms=1000).select(
        "media_id",
        F.lit("frame").alias("item"),
        F.col("frame_ts_ms").cast("long").alias("a"),
        F.lit(None).cast("long").alias("b"),
    )
    resized = resize_plan(media, max_side=256).select(
        "media_id",
        F.lit("resize").alias("item"),
        F.col("target_w").cast("long").alias("a"),
        F.col("target_h").cast("long").alias("b"),
    )
    return frames.unionAll(resized)


# ---------------------------------------------------------------------------
# R2 / S2 / A8: melt-by-list, directory catalog scan, FK unmatched audit
# ---------------------------------------------------------------------------


@q(
    "melt_columns",
    """
    SELECT c_custkey, 'c_name' AS variable, c_name AS value FROM customer
    UNION ALL SELECT c_custkey, 'c_mktsegment', c_mktsegment FROM customer
    """,
)
def melt_columns_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 under the oracle gate: generic melt over an explicit column list
    (operators/reshape.py::melt_columns — Spark ``unpivot``, single
    projection, no shuffle; the synonym-sheet melt of regex-selected
    ``*.cellid`` columns, reference build_synonym_tables.py:45-63)."""
    from pharmacodi_spark.operators.reshape import melt_columns

    cust = _t(spark, sf_dir, "customer")
    return melt_columns(
        cust,
        id_vars=["c_custkey"],
        value_vars=["c_name", "c_mktsegment"],
    )


@q(
    "catalog_scan",
    """
    SELECT n_nationkey, n_name, r_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
)
def catalog_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/R5 under the oracle gate: materialize a PSet-export-shaped
    directory (``meta$nation.csv`` with the NA sentinel convention,
    ``region.parquet`` — mixed formats, ``$``-split slot names, reference
    read_pset.py:40-74), scan it with io.read_pset_catalog (lazy DataFrames,
    extension dispatch), and join the two catalog slots back into a
    SQL-verifiable result."""
    import os

    from pharmacodi_spark.io import read_pset_catalog

    base = f"/tmp/spark_graft_catalog_{os.path.basename(sf_dir.rstrip('/'))}"
    marker = os.path.join(base, ".done")
    if not os.path.exists(marker):
        os.makedirs(base, exist_ok=True)
        nation = _t(spark, sf_dir, "nation")
        nation.coalesce(1).write.mode("overwrite").option("header", "true").csv(
            os.path.join(base, "stage")
        )
        part = [
            f for f in os.listdir(os.path.join(base, "stage")) if f.endswith(".csv")
        ][0]
        os.replace(
            os.path.join(base, "stage", part), os.path.join(base, "meta$nation.csv")
        )
        _t(spark, sf_dir, "region").coalesce(1).write.mode("overwrite").parquet(
            os.path.join(base, "stage2")
        )
        part = [
            f
            for f in os.listdir(os.path.join(base, "stage2"))
            if f.endswith(".parquet")
        ][0]
        os.replace(
            os.path.join(base, "stage2", part), os.path.join(base, "region.parquet")
        )
        import shutil

        shutil.rmtree(os.path.join(base, "stage"))
        shutil.rmtree(os.path.join(base, "stage2"))
        open(marker, "w").close()
    # the nation sheet carries a declared contract, so the CSV scan reads
    # the data ONCE — no inference pass, no double-scan warning (r6 item 8)
    cat = read_pset_catalog(
        spark,
        base,
        schemas={"meta$nation": "n_nationkey int, n_name string, n_regionkey int"},
    )
    nation, region = cat["meta$nation"], cat["region"]
    return (
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("n_nationkey").cast("long"),
            "n_name",
            "r_name",
        )
    )


@q(
    "fk_unmatched_audit",
    """
    SELECT DISTINCT l_suppkey
    FROM lineitem
    WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_suppkey % 10 != 0)
    """,
)
def fk_unmatched_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/J4 audit surface under the oracle gate: remap lineitem's supplier
    FK against a dim with every 10th supplier removed; the query returns the
    AUDIT table (distinct unmatched natural keys) that remap_fk surfaces
    instead of log-and-swallowing (reference combine_pset_tables.py:318-326).
    The remapped main output is already gated via fk_remap_dense."""
    from pharmacodi_spark.operators.keys import remap_fk

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    dim = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") % 10 != 0)
        .select(F.col("s_suppkey").alias("id"), F.col("s_suppkey").alias("l_suppkey"))
    )
    _remapped, unmatched = remap_fk(li, dim, "l_suppkey", on_miss="drop")
    return unmatched


# ---------------------------------------------------------------------------
# IVF ANN (inverted-file index: assign → probe → score), driver-gated
# ---------------------------------------------------------------------------


@q(
    "ann_ivf_topk",
    """
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) AS qe
      FROM embeddings
    ),
    cents AS (SELECT vec_id AS cid, qe AS cqe FROM q WHERE vec_id < 8),
    dists AS (
      SELECT q.vec_id, c.cid,
             list_sum(list_transform(list_zip(q.qe, c.cqe),
                                     s -> (s[1]-s[2])*(s[1]-s[2]))) AS d2
      FROM q CROSS JOIN cents c
    ),
    assign AS (
      SELECT vec_id, cid
      FROM (SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM dists)
      WHERE rn = 1
    ),
    qvec AS (SELECT qe AS qq FROM q WHERE vec_id = 42),
    probe AS (
      SELECT cid FROM (
        SELECT c.cid,
               list_sum(list_transform(list_zip(c.cqe, v.qq),
                                       s -> (s[1]-s[2])*(s[1]-s[2]))) AS d2
        FROM cents c CROSS JOIN qvec v
      ) ORDER BY d2, cid LIMIT 2
    )
    SELECT a.vec_id,
           CAST(list_sum(list_transform(list_zip(q.qe, v.qq), s -> s[1]*s[2]))
                AS BIGINT) AS dot,
           CAST(a.cid AS BIGINT) AS centroid_id
    FROM assign a
    JOIN q ON a.vec_id = q.vec_id
    CROSS JOIN qvec v
    WHERE a.cid IN (SELECT cid FROM probe)
    ORDER BY dot DESC, a.vec_id LIMIT 10
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN end-to-end under the oracle gate (text/similarity.py::
    ivf_assign + ivf_topk): quantize embeddings to integer-valued doubles
    (exact in both engines regardless of accumulation order, since every
    intermediate stays < 2^53), build a deterministic coarse quantizer from
    the first 8 corpus vectors (the SQL-reproducible stand-in for the
    k-means|| production path, train_ivf_centroids — pytest-covered), assign
    via native argmin (array_min over (d2, idx) structs), probe the 2
    centroids nearest the fixed query vector (vec_id 42), and return the
    exact dot-product top-10 within the probed cells. The centroid filter is
    a pushable predicate — partitioned-by-centroid storage prunes cells."""
    from pharmacodi_spark.text.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    qe = e.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: _rnd(x.cast("double") * 10000)
        ).alias("qe"),
    )
    # index metadata: 8 seed-doc centroids + the probe vector (driver-side
    # by design — an ANN coarse quantizer is a few KB, not dataflow)
    seed_rows = qe.where(F.col("vec_id") < 8).collect()
    centroids = [list(r.qe) for r in sorted(seed_rows, key=lambda r: r.vec_id)]
    query = list(qe.where(F.col("vec_id") == 42).collect()[0].qe)
    out = ivf_topk(
        qe, centroids, query, k=10, nprobe=2, vec_col="qe", metric="dot"
    )
    return out.select(
        "vec_id",
        F.col("dot").cast("long").alias("dot"),
        F.col("centroid_id").cast("long").alias("centroid_id"),
    )


@q(
    "ann_pq_topk",
    """
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) AS qe
      FROM embeddings
    ),
    sub AS (
      SELECT vec_id, u.m, qe[u.m*16+1:(u.m+1)*16] AS sv
      FROM q, UNNEST(generate_series(0, 3)) AS u(m)
    ),
    cb AS (SELECT m, vec_id AS k, sv AS csv FROM sub WHERE vec_id < 8),
    enc AS (
      SELECT vec_id, m, k FROM (
        SELECT s.vec_id, s.m, c.k,
               row_number() OVER (
                 PARTITION BY s.vec_id, s.m
                 ORDER BY list_sum(list_transform(list_zip(s.sv, c.csv),
                                                 z -> (z[1]-z[2])*(z[1]-z[2]))),
                          c.k) AS rn
        FROM sub s JOIN cb c ON s.m = c.m
      ) WHERE rn = 1
    ),
    qsub AS (SELECT m, sv AS qsv FROM sub WHERE vec_id = 42),
    tab AS (
      SELECT c.m, c.k,
             list_sum(list_transform(list_zip(v.qsv, c.csv),
                                     z -> (z[1]-z[2])*(z[1]-z[2]))) AS d2q
      FROM cb c JOIN qsub v ON c.m = v.m
    ),
    adc AS (
      SELECT e.vec_id, sum(t.d2q) AS d2_adc
      FROM enc e JOIN tab t ON e.m = t.m AND e.k = t.k
      GROUP BY e.vec_id
    )
    SELECT vec_id, CAST(d2_adc AS BIGINT) AS d2_adc
    FROM adc ORDER BY d2_adc, vec_id LIMIT 10
    """,
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN under the oracle gate (text/similarity.py::
    pq_encode + pq_adc_topk, M=4 subspaces × K=8 codes over 64-dim
    integer-quantized embeddings): codes = per-subspace squared-L2 argmin
    against a deterministic codebook built from the first 8 corpus vectors
    (SQL-reproducible stand-in for the per-subspace k-means|| production
    path, train_pq_codebooks — pytest-covered); the probe sums M
    driver-precomputed table lookups per row (asymmetric distance), never
    touching the original vectors. Every distance is an exact integer-valued
    double < 2^53, so ranking matches DuckDB bit-for-bit."""
    from pharmacodi_spark.text.similarity import pq_adc_topk

    e = _t(spark, sf_dir, "embeddings")
    qe = e.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: _rnd(x.cast("double") * 10000)
        ).alias("qe"),
    )
    seed_rows = qe.where(F.col("vec_id") < 8).collect()
    dsub = 64 // 4
    codebooks = [
        [
            list(r.qe[m * dsub : (m + 1) * dsub])
            for r in sorted(seed_rows, key=lambda r: r.vec_id)
        ]
        for m in range(4)
    ]
    query = list(qe.where(F.col("vec_id") == 42).collect()[0].qe)
    out = pq_adc_topk(qe, codebooks, query, k=10, vec_col="qe")
    return out.select("vec_id", F.col("d2_adc").cast("long").alias("d2_adc"))


@q(
    "ann_ivf_pq_topk",
    """
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) AS qe
      FROM embeddings
    ),
    cents AS (SELECT vec_id AS cid, qe AS cqe FROM q WHERE vec_id < 8),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT q.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_sum(list_transform(list_zip(q.qe, c.cqe),
                                                 z -> (z[1]-z[2])*(z[1]-z[2]))),
                          c.cid) AS rn
        FROM q CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    qvec AS (SELECT qe AS qq FROM q WHERE vec_id = 42),
    probe AS (
      SELECT cid FROM (
        SELECT c.cid,
               list_sum(list_transform(list_zip(c.cqe, v.qq),
                                       z -> (z[1]-z[2])*(z[1]-z[2]))) AS d2
        FROM cents c CROSS JOIN qvec v
      ) ORDER BY d2, cid LIMIT 2
    ),
    cand AS (
      SELECT q.vec_id, q.qe FROM q JOIN assign a ON q.vec_id = a.vec_id
      WHERE a.cid IN (SELECT cid FROM probe)
    ),
    cb AS (
      SELECT u.m, vec_id AS k, qe[u.m*16+1:(u.m+1)*16] AS csv
      FROM q, UNNEST(generate_series(0, 3)) AS u(m) WHERE vec_id < 8
    ),
    sub AS (
      SELECT vec_id, u.m, qe[u.m*16+1:(u.m+1)*16] AS sv
      FROM cand, UNNEST(generate_series(0, 3)) AS u(m)
    ),
    enc AS (
      SELECT vec_id, m, k FROM (
        SELECT s.vec_id, s.m, c.k,
               row_number() OVER (
                 PARTITION BY s.vec_id, s.m
                 ORDER BY list_sum(list_transform(list_zip(s.sv, c.csv),
                                                 z -> (z[1]-z[2])*(z[1]-z[2]))),
                          c.k) AS rn
        FROM sub s JOIN cb c ON s.m = c.m
      ) WHERE rn = 1
    ),
    qsub AS (
      SELECT u.m, qq[u.m*16+1:(u.m+1)*16] AS qsv
      FROM qvec, UNNEST(generate_series(0, 3)) AS u(m)
    ),
    tab AS (
      SELECT c.m, c.k,
             list_sum(list_transform(list_zip(v.qsv, c.csv),
                                     z -> (z[1]-z[2])*(z[1]-z[2]))) AS d2q
      FROM cb c JOIN qsub v ON c.m = v.m
    ),
    short AS (
      SELECT e.vec_id FROM enc e JOIN tab t ON e.m = t.m AND e.k = t.k
      GROUP BY e.vec_id ORDER BY sum(t.d2q), e.vec_id LIMIT 50
    )
    SELECT q.vec_id,
           CAST(list_sum(list_transform(list_zip(q.qe, v.qq),
                                        z -> z[1]*z[2])) AS BIGINT) AS dot
    FROM q JOIN short USING (vec_id) CROSS JOIN qvec v
    ORDER BY dot DESC, q.vec_id LIMIT 10
    """,
)
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with exact re-rank (text/similarity.py::ivf_pq_topk) — the
    full production ANN pipeline under one oracle: IVF coarse prune to 2 of
    8 cells → PQ asymmetric-distance shortlist of 50 from codes alone →
    exact dot-product top-10 on just the shortlist's vectors. Same seed
    centroids/codebooks as ann_ivf_topk / ann_pq_topk (first 8 corpus
    vectors), every stage integer-exact and tie-broken on id, so the whole
    three-stage cascade matches DuckDB bit-for-bit."""
    from pharmacodi_spark.text.similarity import ivf_pq_topk

    e = _t(spark, sf_dir, "embeddings")
    qe = e.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: _rnd(x.cast("double") * 10000)
        ).alias("qe"),
    )
    seed_rows = sorted(
        qe.where(F.col("vec_id") < 8).collect(), key=lambda r: r.vec_id
    )
    centroids = [list(r.qe) for r in seed_rows]
    dsub = 64 // 4
    codebooks = [
        [list(r.qe[m * dsub : (m + 1) * dsub]) for r in seed_rows]
        for m in range(4)
    ]
    query = list(qe.where(F.col("vec_id") == 42).collect()[0].qe)
    out = ivf_pq_topk(
        qe, centroids, codebooks, query, k=10, nprobe=2, shortlist=50,
        vec_col="qe",
    )
    return out.select("vec_id", F.col("dot").cast("long").alias("dot"))


# ---------------------------------------------------------------------------
# Corpus-level text stats (text/corpus.py): IDF, TF-IDF top terms, n-grams
# ---------------------------------------------------------------------------

_TOKS_SQL = """
      SELECT doc_id, token
      FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS token
            FROM documents)
      WHERE token != ''
"""


@q(
    "corpus_idf",
    f"""
    WITH toks AS ({_TOKS_SQL}),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
    dfreq AS (SELECT token, count(*) AS df_count FROM tf GROUP BY token)
    SELECT token, df_count,
           CAST((SELECT count(*) FROM documents) AS DOUBLE) / df_count AS idf_ratio
    FROM dfreq
    """,
)
def corpus_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus document-frequency table (text/corpus.py::doc_frequency) with
    the exact N/df ratio (integer division is correctly rounded IEEE — the
    ln() form lives in idf_table and is pytest-covered; libm ln is not
    bit-portable across engines, ratios are). Shuffles carry (token, count)
    pairs collapsed map-side, never bodies."""
    from pharmacodi_spark.text.corpus import doc_frequency

    d = _t(spark, sf_dir, "documents")
    n = d.count()
    return doc_frequency(fan_out(d, "doc_id")).withColumn(
        "idf_ratio", F.lit(float(n)) / F.col("df_count")
    )


@q(
    "tfidf_top_terms",
    f"""
    WITH toks AS ({_TOKS_SQL}),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
    dfreq AS (SELECT token, count(*) AS df_count FROM tf GROUP BY token),
    scored AS (
      SELECT t.doc_id, t.token, t.tf,
             t.tf * (((SELECT count(*) FROM documents) * 1000000) // d.df_count)
               AS score
      FROM tf t JOIN dfreq d ON t.token = d.token
    )
    SELECT doc_id, token, tf, CAST(score AS BIGINT) AS score
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, token) AS rn
          FROM scored)
    WHERE rn <= 3
    """,
)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (text/corpus.py::tfidf_top_terms)
    with an integer-quantized idf (N·10⁶ div df — exact in both engines;
    the ln() production formula is injected via idf_fn and pytest-covered).
    Broadcast idf join + per-doc window: no global single-task stage."""
    from pharmacodi_spark.text.corpus import tfidf_top_terms

    d = _t(spark, sf_dir, "documents")

    def int_idf(n_docs, df_count):
        # cast BEFORE multiplying: n_docs * 10^6 overflows 32-bit int at
        # corpus sizes ≥ ~2150 docs under ANSI arithmetic
        return F.expr(f"(CAST({n_docs} AS BIGINT) * 1000000) div df_count")

    out = tfidf_top_terms(fan_out(d, "doc_id"), k=3, idf_fn=int_idf)
    return out.select(
        "doc_id", "token", "tf", F.col("score").cast("long").alias("score")
    )


@q(
    "ngram_topk",
    """
    WITH toks AS (SELECT string_split_regex(text, '\\s+') AS t FROM documents),
    idx AS (SELECT t, unnest(generate_series(1, greatest(len(t) - 1, 1))) AS i
            FROM toks),
    grams AS (SELECT array_to_string(t[i:i+1], ' ') AS ngram FROM idx),
    counts AS (SELECT ngram, count(*) AS n_occurrences FROM grams GROUP BY ngram)
    SELECT ngram, n_occurrences FROM counts
    ORDER BY n_occurrences DESC, ngram LIMIT 20
    """,
)
def ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 bigrams (text/corpus.py::top_ngrams): native
    transform/slice n-gram expansion, map-side partial counts, and a
    TakeOrderedAndProject top-k — the n-gram frequency/contamination-check
    primitive. Ties broken lexicographically so the cut is deterministic."""
    from pharmacodi_spark.text.corpus import top_ngrams

    d = _t(spark, sf_dir, "documents")
    return top_ngrams(fan_out(d, "doc_id"), n=2, k=20)


# ---------------------------------------------------------------------------
# Corpus cleaning (text/cleaning.py): repeated-span stats, PII redaction
# ---------------------------------------------------------------------------


@q(
    "repeated_spans",
    """
    WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
    idx AS (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 4, 1))) AS i
            FROM toks),
    spans AS (SELECT doc_id, array_to_string(t[i:i+4], ' ') AS span FROM idx),
    dfreq AS (SELECT span, count(DISTINCT doc_id) AS span_df FROM spans GROUP BY span),
    shared AS (SELECT span FROM dfreq WHERE span_df >= 2)
    SELECT s.doc_id,
           count(*) AS n_spans,
           CAST(sum(CASE WHEN sh.span IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared,
           CAST(sum(CASE WHEN sh.span IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS shared_frac
    FROM spans s LEFT JOIN shared sh ON s.span = sh.span
    GROUP BY s.doc_id
    """,
)
def repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span stats (text/cleaning.py::
    repeated_span_stats, span_len=5): the exact-substring duplication signal
    for contamination checks / boilerplate scoring. Counting runs on md5
    span hashes (the shuffle never carries span text); the oracle re-derives
    by span string — identical grouping, value-checked. Integer counts and
    one exact long/long division."""
    from pharmacodi_spark.text.cleaning import repeated_span_stats

    d = _t(spark, sf_dir, "documents")
    return repeated_span_stats(fan_out(d, "doc_id"), span_len=5, min_df=2)


@q(
    "span_scrub",
    """
    WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
    idx AS (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 4, 1))) AS s
            FROM toks),
    spans AS (SELECT doc_id, s, array_to_string(t[s:s+4], ' ') AS span FROM idx),
    shared AS (
      SELECT span FROM (
        SELECT span, count(DISTINCT doc_id) AS span_df FROM spans GROUP BY span
      ) WHERE span_df >= 2
    ),
    covered AS (
      SELECT DISTINCT sp.doc_id, sp.s + u.o AS pos
      FROM spans sp JOIN shared USING (span),
           UNNEST(generate_series(0, 4)) AS u(o)
    ),
    tok AS (SELECT doc_id, s AS pos, t[s] AS tok
            FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS s
                  FROM toks)),
    kept AS (SELECT doc_id, pos, tok FROM tok ANTI JOIN covered USING (doc_id, pos)),
    agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS scrubbed,
                   count(*) AS n_kept
            FROM kept GROUP BY doc_id),
    tot AS (SELECT doc_id, count(*) AS n_tokens FROM tok GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(a.scrubbed, '') AS scrubbed,
           CAST(coalesce(t.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(t.n_tokens, 0) - coalesce(a.n_kept, 0) AS BIGINT)
             AS n_masked
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN agg a USING (doc_id)
    LEFT JOIN tot t USING (doc_id)
    """,
)
def span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring scrubbing (text/cleaning.py::scrub_shared_spans,
    span_len=5, min_df=2): every token covered by a cross-document repeated
    5-gram is removed, the rest of the document survives in order — the
    span-mask edit built on the ``repeated_spans`` signal. Spark side masks
    by md5 span hash (shuffles carry hashes and (id, pos, token) rows, never
    bodies); the oracle re-derives by span string — identical grouping,
    value-checked including the reassembled text."""
    from pharmacodi_spark.text.cleaning import scrub_shared_spans

    d = _t(spark, sf_dir, "documents")
    return scrub_shared_spans(fan_out(d, "doc_id"), span_len=5, min_df=2)


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+?\d{3}[- .]\d{3}[- .]\d{4}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


@q(
    "pii_redact",
    f"""
    WITH synth AS (
      SELECT doc_id,
             'contact doc' || CAST(doc_id AS VARCHAR) || '@example.com or 555-000-'
               || lpad(CAST(doc_id AS VARCHAR), 4, '0') || ' ip 10.0.0.'
               || CAST(doc_id % 256 AS VARCHAR) || ' ' || text AS s
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(s, '{_PII_EMAIL}', '[EMAIL]', 'g'),
               '{_PII_PHONE}', '[PHONE]', 'g'),
             '{_PII_IP}', '[IP]', 'g') AS text_redacted,
           CAST(len(regexp_extract_all(s, '{_PII_EMAIL}'))
                + len(regexp_extract_all(s, '{_PII_PHONE}'))
                + len(regexp_extract_all(s, '{_PII_IP}')) AS BIGINT)
             AS n_redactions
    FROM synth
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (text/cleaning.py::redact_pii): deterministic
    email/phone/IP strings synthesized per doc (the fixture corpus carries
    none), redacted with the shared Java-regex/RE2-subset patterns; match
    counts tallied against the original text as the library does. Pure
    regexp_replace/regexp_count codegen — no UDF."""
    from pharmacodi_spark.text.cleaning import redact_pii

    d = _t(spark, sf_dir, "documents")
    synth = d.select(
        "doc_id",
        F.concat(
            F.lit("contact doc"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-000-"),
            F.lpad(F.col("doc_id").cast("string"), 4, "0"),
            F.lit(" ip 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(" "),
            F.col("text"),
        ).alias("text"),
    )
    out = redact_pii(synth)
    return out.select(
        "doc_id",
        F.col("text_redacted"),
        F.col("n_redactions"),
    )


# ---------------------------------------------------------------------------
# Fuzzy dedup end-to-end: minhash → LSH pairs → clusters → keeper drop-list
# ---------------------------------------------------------------------------


@q(
    "fuzzy_dedup_pipeline",
    """
    WITH RECURSIVE sig AS (
      SELECT doc_id,
             min(CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT)) AS h0,
             min(CAST(('0x' || substr(md5(shingle), 9, 8)) AS BIGINT)) AS h1,
             min(CAST(('0x' || substr(md5(shingle), 17, 8)) AS BIGINT)) AS h2,
             min(CAST(('0x' || substr(md5(shingle), 25, 8)) AS BIGINT)) AS h3
      FROM (
        SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS shingle
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, greatest(len(toks)-4, 1))) AS i
              FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
      )
      GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band, h0 AS v1, h1 AS v2 FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band, h2 AS v1, h3 AS v2 FROM sig
    ),
    pairs0 AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.v1 = b.v1 AND a.v2 = b.v2
      WHERE a.doc_id < b.doc_id
    ),
    edges AS (SELECT u, v FROM pairs0 UNION SELECT v, u FROM pairs0),
    reach(node, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
    ),
    comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node)
    SELECT node AS doc_id, component, component = node AS keep FROM comp
    """,
)
def fuzzy_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete fuzzy-dedup path a training-data pipeline runs, in one
    oracle-gated composition: 5-gram shingles → md5-sliced MinHash (k=4) →
    LSH banding → bucket-local candidate pairs (text/dedup.py::
    md5_band_pairs, the minhash_band_pairs plan) → iterative connected
    components → min-id keeper per cluster, singletons keeping themselves
    (text/clusters.py::near_dup_droplist). Filter keep=false for the drop
    list; the DuckDB oracle re-derives every stage including the
    transitive closure."""
    from pharmacodi_spark.text.clusters import near_dup_droplist
    from pharmacodi_spark.text.dedup import md5_band_pairs, md5_signature

    d = _t(spark, sf_dir, "documents")
    pairs = md5_band_pairs(md5_signature(d))
    return near_dup_droplist(d.select("doc_id"), pairs, edges_canonical=True)


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
# F11 date/time kit + deterministic sampling
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
    "hash_sample",
    """
    SELECT doc_id, lang
    FROM documents
    WHERE CAST(('0x' || substr(md5('s1' || CAST(doc_id AS VARCHAR)), 1, 15))
               AS BIGINT) % 10000 < 1000
    """,
)
def hash_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample keyed on md5(salt||doc_id)
    (operators/sampling.py::hash_sample): reproducible on any engine, any
    partitioning — what DataFrame.sample (partition-seeded RNG) cannot
    give. The same mechanism yields disjoint train/val/test splits
    (hash_split, pytest-covered)."""
    from pharmacodi_spark.operators.sampling import hash_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return hash_sample(d, "doc_id", 0.10, salt="s1")


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


def _pagerank_sql(iters: int = 10) -> str:
    """Unrolled integer-PageRank oracle: DuckDB's recursive CTEs disallow
    aggregation in the recursive term, so the fixed iteration count is
    unrolled as chained CTEs — same integer algebra as
    operators/graph.py::pagerank_int."""
    base = "(SELECT (15000000000 // (100 * count(*))) FROM nodes)"
    parts = [
        "edges AS (SELECT DISTINCT o_custkey % 50 AS src, "
        "o_orderkey % 50 AS dst FROM orders)",
        "nodes AS (SELECT DISTINCT v FROM "
        "(SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges))",
        "outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src)",
        "r0 AS (SELECT v, (SELECT 1000000000 // count(*) FROM nodes) AS r "
        "FROM nodes)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""r{i} AS (
      SELECT n.v,
             CAST({base} + (85 * coalesce(s.s, 0)) // 100 AS BIGINT) AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS v, sum(r.r // o.od) AS s
        FROM edges e
        JOIN r{i - 1} r ON e.src = r.v
        JOIN outdeg o ON e.src = o.src
        GROUP BY e.dst
      ) s ON n.v = s.v)"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT CAST(v AS BIGINT) AS v, CAST(r AS BIGINT) AS r "
        f"FROM r{iters}"
    )


@q(
    "weighted_sample",
    """
    SELECT l_orderkey, l_linenumber, l_discount
    FROM lineitem
    WHERE CAST(('0x' || substr(md5('ws|' || CAST(l_orderkey AS VARCHAR)
                                  || '|' || CAST(l_linenumber AS VARCHAR)), 1, 15))
               AS BIGINT) % 10000
          < l_discount * 10 * 10000
    """,
)
def weighted_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted deterministic sampling (operators/sampling.py::
    weighted_sample): each lineitem survives with probability equal to its
    scaled discount (l_discount·10 ∈ [0,1]) — the quality-weighted corpus
    downsampling a training pipeline applies, keyed on the row's md5 so
    membership is reproducible across engines and partitionings and the
    filter pushes toward the scan. Same md5-bucket arithmetic as
    hash_sample; the comparison is integer-bucket < weight·10000 on both
    sides."""
    from pharmacodi_spark.operators.sampling import weighted_sample

    li = _t(spark, sf_dir, "lineitem")
    out = weighted_sample(
        li,
        F.col("l_discount") * 10,
        key_cols=["l_orderkey", "l_linenumber"],
        salt="ws",
    )
    return out.select("l_orderkey", "l_linenumber", "l_discount")


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


def _lpa_sql(iters: int = 5) -> str:
    """Unrolled deterministic-LPA oracle (same unroll rationale as
    _pagerank_sql)."""
    parts = [
        "edges0 AS (SELECT DISTINCT o_custkey % 50 AS src, "
        "o_orderkey % 50 AS dst FROM orders)",
        "ue AS (SELECT DISTINCT src, dst FROM (SELECT src, dst FROM edges0 "
        "UNION ALL SELECT dst, src FROM edges0))",
        "nodes AS (SELECT DISTINCT src AS v FROM ue)",
        "l0 AS (SELECT v, v AS label FROM nodes)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""l{i} AS (
      SELECT n.v, coalesce(m.label, n.v) AS label
      FROM nodes n LEFT JOIN (
        SELECT v, label FROM (
          SELECT e.src AS v, l.label, count(*) AS c,
                 row_number() OVER (PARTITION BY e.src
                                    ORDER BY count(*) DESC, l.label) AS rn
          FROM ue e JOIN l{i - 1} l ON e.dst = l.v
          GROUP BY e.src, l.label
        ) WHERE rn = 1
      ) m ON n.v = m.v)"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT CAST(v AS BIGINT) AS v, "
        f"CAST(label AS BIGINT) AS label FROM l{iters}"
    )


@q("label_propagation", _lpa_sql(5))
def label_propagation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic label-propagation communities, 5 synchronous steps
    (operators/graph.py::label_propagation) over the undirected closure of
    the 50-node orders graph: each node adopts its neighbors' most frequent
    label, ties to the smaller label — the tie-break that turns
    order-dependent LPA into a reproducible fixpoint trajectory, matched
    step-for-step by the oracle's unrolled CTE chain."""
    from pharmacodi_spark.operators.graph import label_propagation

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        (F.col("o_custkey") % 50).alias("src"),
        (F.col("o_orderkey") % 50).alias("dst"),
    ).distinct()
    out = label_propagation(edges, iterations=5)
    return out.select(
        F.col("v").cast("long").alias("v"),
        F.col("label").cast("long").alias("label"),
    )


@q("pagerank_int", _pagerank_sql(10))
def pagerank_int_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank, 10 iterations (operators/graph.py::
    pagerank_int) over a 50-node functional graph derived from orders
    (src = custkey mod 50 → dst = orderkey mod 50, deduped). All rank mass
    stays in scaled integers — contribution = r div outdeg, damping =
    (85·Σ) div 100 — so every iteration is exact floor-division algebra
    and the 10-step fixpoint matches the oracle's unrolled CTE chain
    bit-for-bit. The iterative-join shape (edges⋈ranks on src → groupBy
    dst) is Pregel's; lineage is truncated with localCheckpoint every 4
    iterations."""
    from pharmacodi_spark.operators.graph import pagerank_int

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        (F.col("o_custkey") % 50).alias("src"),
        (F.col("o_orderkey") % 50).alias("dst"),
    ).distinct()
    out = pagerank_int(edges, iterations=10)
    return out.select(
        F.col("v").cast("long").alias("v"), F.col("r").cast("long").alias("r")
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
    "scd2_history",
    """
    WITH c AS (
      SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, event_type
      FROM events
    ),
    m AS (
      SELECT user_id, event_id, us, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id) AS prev_type
      FROM c
    ),
    v AS (
      SELECT user_id, event_id, us, event_type FROM m
      WHERE prev_type IS NULL OR event_type IS DISTINCT FROM prev_type
    )
    SELECT user_id, event_type,
           CAST(us AS BIGINT) AS valid_from_us,
           CAST(lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                AS BIGINT) AS valid_to_us,
           lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
             AS is_current
    FROM v
    """,
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history (operators/scd.py): each user's event_type
    treated as a slowly-changing attribute — consecutive repeats collapse
    into one version (null-safe struct compare against lag), versions get
    [valid_from, valid_to) microsecond intervals via lead, open versions
    flag is_current. One keyed shuffle serves both windows (the sort
    survives the collapse filter). Event-id tiebreak makes simultaneous
    changes deterministically ordered in both engines."""
    from pharmacodi_spark.operators.scd import scd2_history as build

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.expr("ts div 1000").alias("us"), "event_type"
    )
    out = build(
        ev,
        key_cols=["user_id"],
        attr_cols=["event_type"],
        ts_col="us",
        tiebreak_cols=["event_id"],
    )
    return out.select(
        "user_id",
        "event_type",
        F.col("valid_from").cast("long").alias("valid_from_us"),
        F.col("valid_to").cast("long").alias("valid_to_us"),
        "is_current",
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
    "fuzzy_name_match",
    """
    WITH probes AS (
      SELECT n_name AS probe FROM nation WHERE n_nationkey % 5 = 0
    ),
    cand AS (
      SELECT n.n_name, p.probe, levenshtein(n.n_name, p.probe) AS dist
      FROM nation n CROSS JOIN probes p
    )
    SELECT n_name, probe, CAST(dist AS BIGINT) AS dist
    FROM cand WHERE dist <= 4 AND n_name != probe
    """,
)
def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching (Spark ``levenshtein`` ≡ DuckDB
    ``levenshtein``) — the approximate synonym/name-reconciliation op the
    reference's synonym tables imply but never had (exact-string joins
    only). Probe set broadcasts; at corpus scale prefilter with a cheap
    blocking key (length band or first-letter bucket) before the distance,
    exactly as the LSH families do for documents."""
    n = _t(spark, sf_dir, "nation")
    probes = n.where(F.col("n_nationkey") % 5 == 0).select(
        F.col("n_name").alias("probe")
    )
    cand = n.select("n_name").crossJoin(F.broadcast(probes))
    return (
        cand.withColumn(
            "dist", F.levenshtein(F.col("n_name"), F.col("probe")).cast("long")
        )
        .where((F.col("dist") <= 4) & (F.col("n_name") != F.col("probe")))
    )


@q(
    "regional_revenue",
    """
    SELECT r_name, n_name,
           count(*) AS n_items,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                         AS BIGINT)) AS BIGINT) AS revenue_centi
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE o_orderstatus = 'F'
    GROUP BY r_name, n_name
    """,
)
def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped multi-join rollup: lineitem⋈orders⋈customer⋈nation⋈
    region with a pushed order-status filter and per-(region, nation)
    revenue. The join DAG is the showcase for Catalyst's join planning: the
    three dims broadcast, lineitem⋈orders co-shuffles on the unique order
    key, the o_orderstatus predicate pushes into the orders scan, and the
    revenue expression is quantized per-row BEFORE the sum so both engines
    aggregate exact integers."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    cents = _rnd(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )
    return (
        li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(cents).cast("long").alias("revenue_centi"),
        )
    )


@q(
    "array_kit",
    """
    SELECT doc_id,
           array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')
             AS vocab_sorted,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_vocab,
           list_contains(string_split(text, ' '), 'the') AS has_the,
           CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
                                   ['the', 'a', 'of', 'and'])) AS BIGINT)
             AS n_stop_vocab
    FROM documents
    """,
)
def array_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function kit (the collection algebra reshape/dedup lean on):
    distinct, sort, membership, intersection — all native higher-order
    array expressions evaluated per-row with zero shuffles. The sorted
    vocab is emitted as a space-joined STRING, not an array: the driver's
    pandas canonicalizer cannot sort list cells (CORRECTNESS_r09
    ``array_kit`` err), so query outputs must be scalar-only — the array
    algebra is still fully exercised upstream of the projection."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    vocab = F.array_distinct(toks)
    return d.select(
        "doc_id",
        F.array_join(F.array_sort(vocab), " ").alias("vocab_sorted"),
        F.size(vocab).cast("long").alias("n_vocab"),
        F.array_contains(toks, "the").alias("has_the"),
        F.size(F.array_intersect(vocab, F.array(*[F.lit(s) for s in ["the", "a", "of", "and"]])))
        .cast("long")
        .alias("n_stop_vocab"),
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
    "incremental_dedup",
    """
    WITH corpus AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 250),
    new AS (SELECT * FROM documents WHERE doc_id >= 250),
    self_dedup AS (
      SELECT doc_id, lang, source FROM (
        SELECT doc_id, lang, source,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn,
               md5(text) AS h
        FROM new
      ) WHERE rn = 1 AND h NOT IN (SELECT h FROM corpus)
    )
    SELECT doc_id, lang, source FROM self_dedup
    """,
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup (text/incremental.py): the daily-ingest path —
    corpus keeps only its content-hash index (doc_id < 250 here); the new
    batch (doc_id ≥ 250) self-dedupes (min id per content wins) then
    anti-joins the index. Corpus text is never re-read; shuffles carry
    32-byte hashes. The LSH-bucket incremental variant
    (incremental_near_dup_flags) is pytest-covered — xxhash64 band cells
    have no DuckDB twin."""
    from pharmacodi_spark.text.incremental import (
        content_hashes,
        incremental_exact_dedup,
    )

    d = _t(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") < 250)
    new = d.where(F.col("doc_id") >= 250)
    out = incremental_exact_dedup(new, content_hashes(corpus))
    return out.select("doc_id", "lang", "source")


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
# Real-vocab tokenization (library twin: text/tokenizer.py)
# ---------------------------------------------------------------------------

# a deliberately adversarial mini-vocab: overlapping pieces ("ta"/"tab"/
# "table", "th"/"the") exercise longest-match, and the letters absent from
# the single-char tail (b, c, d, h, ...) force unk fallbacks mid-word
_TOKENIZER_VOCAB = [
    "a", "e", "g", "l", "m", "n", "o", "r", "s", "t", "u", "w",
    "er", "re", "st", "ta", "th", "ch", "ow", "the", "row", "val", "ue",
    "join", "tab", "table", "scan", "agg", "batch", "col", "umn", "que",
    "ry", "fil", "ter", "data", "key", "par", "big", "lin", "ord", "fast",
    "slow", "mer", "ge",
]

_TOKENIZER_VOCAB_SQL = ", ".join(f"('{p}')" for p in _TOKENIZER_VOCAB)


@q(
    "vocab_token_count",
    f"""
    WITH RECURSIVE
    vocab(piece) AS (VALUES {_TOKENIZER_VOCAB_SQL}),
    doc_words AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
        FROM documents)
      WHERE w <> ''
    ),
    words AS (SELECT DISTINCT w FROM doc_words),
    -- greedy longest-prefix walk as iterated position advance: each round
    -- every unfinished word consumes its longest matching piece (else one
    -- unk char); terminal rows are the ones whose pos ran past the end
    step(w, pos, n, unk) AS (
      SELECT w, 1, 0, 0 FROM words
      UNION ALL
      SELECT w, pos + coalesce(len, 1), n + 1,
             unk + (CASE WHEN len IS NULL THEN 1 ELSE 0 END)
      FROM (
        SELECT s.w, s.pos, s.n, s.unk,
               (SELECT max(length(v.piece)) FROM vocab v
                WHERE substr(s.w, s.pos, length(v.piece)) = v.piece) AS len
        FROM step s WHERE s.pos <= length(s.w))
    ),
    wp AS (SELECT w, n AS n_pieces, unk AS n_unk FROM step WHERE pos > length(w))
    SELECT d.doc_id,
           CAST(coalesce(sum(wp.n_pieces), 0) AS BIGINT) AS n_vocab_tokens,
           CAST(coalesce(sum(wp.n_unk), 0) AS BIGINT) AS n_unk
    FROM documents d
    LEFT JOIN doc_words dw ON d.doc_id = dw.doc_id
    LEFT JOIN wp ON dw.w = wp.w
    GROUP BY d.doc_id
    """,
)
def vocab_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budgets under a REAL vocabulary (greedy longest-prefix /
    WordPiece-style inference), not a pre-tokenizer regex: per-document
    model-token and unknown-token counts via text/tokenizer.py.

    Spark plan: ONE mapInPandas pass over the scan — no explode, no join,
    no shuffle; per-batch word memoization bounds Python work by distinct
    words (Zipf head collapses). The oracle replays the identical greedy
    semantics as a DuckDB recursive CTE over distinct words (recursion
    depth = max word length), proving the trie walk piece-for-piece."""
    from pharmacodi_spark.text.tokenizer import vocab_token_counts

    d = _t(spark, sf_dir, "documents")
    return vocab_token_counts(d, _TOKENIZER_VOCAB)


# ---------------------------------------------------------------------------
# Ingest pipeline E2E (library twin: pipelines/ingest.py::dedup_batch)
# ---------------------------------------------------------------------------

_ING_SHINGLES = """
      SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS shingle
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, greatest(len(toks)-4, 1))) AS i
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM {src}))
"""

_ING_SIG = """
      SELECT doc_id,
             min(CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT)) AS h0,
             min(CAST(('0x' || substr(md5(shingle), 9, 8)) AS BIGINT)) AS h1,
             min(CAST(('0x' || substr(md5(shingle), 17, 8)) AS BIGINT)) AS h2,
             min(CAST(('0x' || substr(md5(shingle), 25, 8)) AS BIGINT)) AS h3
      FROM ({sh})
      GROUP BY doc_id
"""


@q(
    "ingest_pipeline",
    f"""
    WITH RECURSIVE
    corpus AS (SELECT * FROM documents WHERE doc_id < 250),
    new AS (SELECT * FROM documents WHERE doc_id >= 250),
    ch AS (SELECT DISTINCT md5(text) AS h FROM corpus),
    s1 AS (
      SELECT doc_id, text, lang, source FROM (
        SELECT d.*, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM new d)
      WHERE rn = 1 AND md5(text) NOT IN (SELECT h FROM ch)
    ),
    sig1 AS ({_ING_SIG.format(sh=_ING_SHINGLES.format(src='s1'))}),
    cells1 AS (
      SELECT doc_id, 0 AS band, h0 AS v1, h1 AS v2 FROM sig1
      UNION ALL
      SELECT doc_id, 1 AS band, h2 AS v1, h3 AS v2 FROM sig1
    ),
    sigc AS ({_ING_SIG.format(sh=_ING_SHINGLES.format(src='corpus'))}),
    cellsc AS (
      SELECT DISTINCT band, v1, v2 FROM (
        SELECT 0 AS band, h0 AS v1, h1 AS v2 FROM sigc
        UNION ALL
        SELECT 1 AS band, h2 AS v1, h3 AS v2 FROM sigc)
    ),
    pairs0 AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM cells1 a JOIN cells1 b
        ON a.band = b.band AND a.v1 = b.v1 AND a.v2 = b.v2
      WHERE a.doc_id < b.doc_id
    ),
    edges AS (SELECT u, v FROM pairs0 UNION SELECT v, u FROM pairs0),
    reach(node, lab) AS (
      SELECT doc_id, doc_id FROM s1
      UNION
      SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
    ),
    comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node),
    s2 AS (
      SELECT s1.* FROM s1
      JOIN comp ON s1.doc_id = comp.node AND comp.component = s1.doc_id
    ),
    flagged AS (
      SELECT DISTINCT c.doc_id
      FROM cells1 c JOIN cellsc x
        ON c.band = x.band AND c.v1 = x.v1 AND c.v2 = x.v2
    )
    SELECT doc_id, lang, source FROM s2
    WHERE doc_id NOT IN (SELECT doc_id FROM flagged)
    """,
)
def ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-ingest dedup gauntlet E2E (pipelines/ingest.py::
    dedup_batch), oracle-checked as ONE cascade: corpus = doc_id < 250 with
    its content-hash + LSH-cell indices; new batch = doc_id ≥ 250 goes
    through (1) exact self-dedup + hash-index anti-join, (2) within-batch
    LSH band pairs → connected components → min-id droplist, (3) drop of
    docs whose any band lands in an occupied corpus cell. md5-parity k=4
    signature (2 bands × 2 rows) so every stage — including the iterative
    component labelling — is value-checked against the recursive-CTE
    oracle. The library path (xxhash64 cells, 16 hashes) + streaming upsert
    composition is pytest-proven in tests/test_ingest_pipeline.py."""
    from pharmacodi_spark.text.clusters import near_dup_droplist
    from pharmacodi_spark.text.dedup import (
        md5_band_cells,
        md5_signature,
        pairs_from_cells,
    )

    d = _t(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") < 250)
    new = d.where(F.col("doc_id") >= 250)

    # 1. exact: min-id keeper per content, then corpus hash-index anti-join
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    s1 = (
        new.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
        .join(
            corpus.select(F.md5("text").alias("h")).distinct(),
            F.md5(F.col("text")) == F.col("h"),
            "left_anti",
        )
    )

    # 2. within-batch near-dup: bucket-local pair expansion → CC → keeper
    c1 = md5_band_cells(md5_signature(s1))
    pairs = pairs_from_cells(c1)
    keep = near_dup_droplist(
        s1.select("doc_id"), pairs, edges_canonical=True
    )
    # the droplist side derives from barrier-pinned RDD scans (no stats),
    # so the planner falls back to sort-merge for both semi-joins against
    # it — hint shuffle_hash (guide §3.1: hash build of the smaller keeper
    # set per partition, no sort of either side; scale-safe where a
    # broadcast of the survivor set would not be)
    s2 = s1.join(
        keep.where(F.col("keep")).select("doc_id").hint("shuffle_hash"),
        "doc_id",
        "left_semi",
    )

    # 3. cross-corpus candidates: any band in an occupied corpus cell.
    # s2 ⊆ s1 and signatures depend only on text, so s2's cells are s1's
    # cells semi-joined by the surviving ids — no third signature pass
    corpus_cells = md5_band_cells(md5_signature(corpus)).select(
        "band", "bucket"
    ).distinct()
    flagged = (
        c1.join(s2.select("doc_id").hint("shuffle_hash"), "doc_id", "left_semi")
        .join(corpus_cells, ["band", "bucket"], "left_semi")
        .select("doc_id")
        .distinct()
    )
    return s2.join(flagged, "doc_id", "left_anti").select("doc_id", "lang", "source")


def _pagerank_dangling_sql(iters: int = 6) -> str:
    """Unrolled oracle for the dangling-redistribution model: same integer
    algebra as _pagerank_sql plus the per-step dangling share
    D div N inside the damped term. Graph: src = custkey mod 50 →
    dst = orderkey mod 55, so nodes 50-54 are guaranteed pure sinks
    (never a src) and the dangling term carries real mass.

    CTEs are ``AS MATERIALIZED`` (r13): each ``r{{i}}`` references
    ``r{{i-1}}`` twice (join + dangling subquery), so DuckDB's default
    inlining re-evaluated the chain 2^iters times (same defect as the
    host-rank oracle; rows identical either way)."""
    n_nodes = "(SELECT count(*) FROM nodes)"
    base = "(SELECT (15000000000 // (100 * count(*))) FROM nodes)"
    parts = [
        "edges AS MATERIALIZED (SELECT DISTINCT o_custkey % 50 AS src, "
        "o_orderkey % 55 AS dst FROM orders)",
        "nodes AS MATERIALIZED (SELECT DISTINCT v FROM "
        "(SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges))",
        "outdeg AS MATERIALIZED (SELECT src, count(*) AS od FROM edges GROUP BY src)",
        "r0 AS MATERIALIZED (SELECT v, (SELECT 1000000000 // count(*) FROM nodes) AS r "
        "FROM nodes)",
    ]
    for i in range(1, iters + 1):
        dang = (
            f"(SELECT coalesce(sum(r2.r), 0) FROM r{i - 1} r2 "
            f"WHERE r2.v NOT IN (SELECT src FROM outdeg))"
        )
        parts.append(
            f"""r{i} AS MATERIALIZED (
      SELECT n.v,
             CAST({base}
                  + (85 * (coalesce(s.s, 0) + {dang} // {n_nodes})) // 100
                  AS BIGINT) AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS v, sum(r.r // o.od) AS s
        FROM edges e
        JOIN r{i - 1} r ON e.src = r.v
        JOIN outdeg o ON e.src = o.src
        GROUP BY e.dst
      ) s ON n.v = s.v)"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT CAST(v AS BIGINT) AS v, CAST(r AS BIGINT) AS r "
        f"FROM r{iters}"
    )


@q("pagerank_dangling", _pagerank_dangling_sql(6))
def pagerank_dangling_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank with dangling-mass redistribution (operators/graph.py::
    pagerank_int(dangling='redistribute')), 6 iterations over a graph with
    five guaranteed sinks (dst = orderkey mod 55 vs src = custkey mod 50).
    Each step folds Σ_{sinks} r div N into the damped term as exact
    integer algebra, conserving total mass to within N floor-roundings —
    value-checked against the unrolled-CTE oracle including the in-plan
    1-row dangling aggregate (broadcast, no per-iteration driver action).
    Convergence early-stop (tol) is pytest-proven (a fixed-point trajectory
    cut short is not oracle-comparable to a fixed iteration count)."""
    from pharmacodi_spark.operators.graph import pagerank_int

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        (F.col("o_custkey") % 50).alias("src"),
        (F.col("o_orderkey") % 55).alias("dst"),
    ).distinct()
    out = pagerank_int(edges, iterations=6, dangling="redistribute")
    return out.select(
        F.col("v").cast("long").alias("v"), F.col("r").cast("long").alias("r")
    )


# ---------------------------------------------------------------------------
# Semantic dedup E2E (embedding space; SemDeDup-style cell blocking)
# ---------------------------------------------------------------------------


@q(
    "semantic_dedup_pipeline",
    """
    WITH RECURSIVE
    q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) AS qe
      FROM embeddings
    ),
    cents AS (SELECT vec_id AS cid, qe AS cqe FROM q
              WHERE vec_id < greatest(16, (SELECT count(*) FROM q) // 256)),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT q.vec_id, c.cid,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_sum(list_transform(list_zip(q.qe, c.cqe),
                                         s -> (s[1]-s[2])*(s[1]-s[2]))), c.cid) AS rn
        FROM q CROSS JOIN cents c) WHERE rn = 1
    ),
    norms AS (
      SELECT vec_id, list_sum(list_transform(qe, x -> x*x)) AS n2 FROM q
    ),
    pairs AS (
      SELECT a.vec_id AS u, b.vec_id AS v
      FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
      JOIN q qa ON a.vec_id = qa.vec_id JOIN q qb ON b.vec_id = qb.vec_id
      JOIN norms na ON a.vec_id = na.vec_id
      JOIN norms nb ON b.vec_id = nb.vec_id
      WHERE CAST(list_sum(list_transform(list_zip(qa.qe, qb.qe),
                                         s -> s[1]*s[2])) AS DOUBLE)
            / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) >= 0.40
    ),
    edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
    reach(node, lab) AS (
      SELECT vec_id, vec_id FROM q
      UNION
      SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
    ),
    comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node)
    SELECT CAST(node AS BIGINT) AS vec_id,
           CAST(component AS BIGINT) AS component,
           component = node AS keep
    FROM comp
    """,
)
def semantic_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space semantic dedup E2E (the SemDeDup-style sibling of
    fuzzy_dedup_pipeline): IVF-cell blocking (text/similarity.py::
    ivf_assign over deterministic seed centroids) → within-cell quantized
    cosine pairs (≥ 0.40; integer dot/norms, ONE IEEE division+sqrt per
    pair — bit-identical across engines) → connected components → min-id
    keeper droplist (text/clusters.py::near_dup_droplist). The quadratic
    term is bounded per CELL — the blocking that makes embedding dedup
    feasible at corpus scale (store assignments partitioned by cid and
    each cell dedups independently); the whole cascade, including the
    iterative component labelling, is value-checked against the
    recursive-CTE oracle.

    Production blocking recipe (r12): swap ``seeded_cell_assign`` for
    text/similarity.py::trained_cell_assign (k-means|| centroids →
    broadcast-centroid-table assign) — the lowest-id seeding stays HERE
    because it is SQL-reproducible (the oracle contract), but at corpus
    scale cell BALANCE bounds the quadratic within-cell term and
    arbitrary-sample seeds concentrate misaligned cluster mass into
    giant cells (tests/test_trained_blocking.py: an 800-vector blob far
    from every seed lands in ONE cell — trained centroids cut the max
    cell >3×, and the planted-duplicate droplist is preserved since
    identical vectors share a Voronoi cell under any seeding).

    Hot-cell skew guard: the within-cell pair join runs through
    text/dedup.py::triangle_blocks with ``max_cell_size=256`` (the same
    cap the simhash twin settled on) — a cell of m vectors re-splits into
    ceil(m/256) subgroups and its m^2/2 pair checks spread over s*(s+1)/2
    bounded tasks instead of one straggler. The decomposition is EXACT
    (each pair generated exactly once; guard-on ≡ guard-off proven by the
    dim-256 pytest and the SCALING.md skew fixture). 256 is deliberate:
    capping at 20 made the sf0.1 pair stage ~35% slower (28 blocks per
    125-vector cell of sub-task overhead) while 256²/2 ≈ 33k checks per
    task stays bounded at any scale — the guard should engage under SKEW,
    not on every healthy cell."""
    from pharmacodi_spark.text.clusters import near_dup_droplist
    from pharmacodi_spark.text.similarity import (
        cell_cosine_pairs,
        seeded_cell_assign,
    )

    e = _t(spark, sf_dir, "embeddings")
    qe = e.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: _rnd(x.cast("double") * 10000)
        ).alias("qe"),
    )
    # centroid count scales with the corpus (k = max(16, n div 256)) so
    # the within-cell candidate-pair mass stays ~n·256 (linear) — see the
    # text_semantic_dedup comment for the r10 sf1 evidence; at
    # sf0.01/sf0.1 the expression still yields 16 (oracle unchanged)
    n_k = max(16, qe.count() // 256)
    from pharmacodi_spark.barrier import stage_barrier

    # pin the argmin: cell_cosine_pairs consumes its input three
    # times (dim probe, triangle-guard cell counts, pair expansion) — see
    # the text_semantic_dedup twin for the r10 sf1 profile.
    # seeded_cell_assign feeds the seed frame to the broadcast-centroid-
    # table path: nothing is collected to the driver at any k (r11,
    # VERDICT r10 item 1)
    assigned = stage_barrier(
        seeded_cell_assign(qe, n_k, vec_col="qe", out_col="cid"),
        name="semdedup_assigned",
    )
    # pair scoring: cell_cosine_pairs picks the flattened straight-line-
    # codegen dot at 64-dim (its Arrow GEMM path takes over past 128)
    pairs = cell_cosine_pairs(
        assigned,
        vec_col="qe",
        id_col="vec_id",
        cell_col="cid",
        threshold=0.40,
        max_cell_size=256,
    )
    out = near_dup_droplist(
        qe.select("vec_id"), pairs, id_col="vec_id", edges_canonical=True
    )
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("component").cast("long").alias("component"),
        "keep",
    )


@q(
    "vocab_train",
    """
    WITH words AS (
      SELECT w, count(*) AS cnt FROM (
        SELECT unnest(string_split_regex(text, '\\s+')) AS w FROM documents)
      WHERE w <> '' GROUP BY w
    ),
    pieces AS (
      SELECT substr(w, i, l) AS piece, cnt
      FROM words,
           unnest(generate_series(1, length(w))) AS t(i),
           unnest(generate_series(1, least(6, length(w) - i + 1))) AS u(l)
    )
    SELECT piece, CAST(sum(cnt) AS BIGINT) AS total
    FROM pieces GROUP BY piece
    ORDER BY total DESC, piece LIMIT 50
    """,
)
def vocab_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-driven vocabulary training (text/tokenizer.py::train_vocab):
    top-50 substrings (≤ 6 chars) of the corpus' words by occurrence-
    weighted frequency. Distinct-word collapse first (Zipf), substring
    explosion over the distinct table only, global top-k as
    TakeOrderedAndProject under a deterministic (total DESC, piece) total
    order — the trained pieces feed build_greedy_encoder /
    vocab_token_counts, closing the loop: budgets without an external
    vocab."""
    from pharmacodi_spark.text.tokenizer import train_vocab

    d = _t(spark, sf_dir, "documents")
    return train_vocab(d, vocab_size=50, max_piece_len=6)


@q(
    "unigram_surprisal",
    """
    WITH toks0 AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    toks AS (SELECT * FROM toks0 WHERE token <> ''),
    cnt AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
    tot AS (SELECT count(*) AS n FROM toks),
    scored AS (
      SELECT t.doc_id,
             length(bin((SELECT n FROM tot) // c.c)) - 1 + 20 AS bits
      FROM toks t JOIN cnt c ON t.token = c.token
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(bits) AS BIGINT) AS sum_bits,
           CAST(sum(bits) AS DOUBLE) / count(*) AS mean_bits
    FROM scored GROUP BY doc_id
    """,
)
def unigram_surprisal_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality gate (text/corpus.py::unigram_surprisal): per-doc
    mean token surprisal with the corpus unigram distribution as the
    model. The log2 is integer-quantized via length(bin(x))−1 — bin() is
    identical in Spark and DuckDB, so the whole score is cross-engine
    exact where libm ln would not be; the final mean is one IEEE division
    of exact integers."""
    from pharmacodi_spark.text.corpus import unigram_surprisal

    d = _t(spark, sf_dir, "documents")
    return unigram_surprisal(d)


@q(
    "contamination_safe_split",
    """
    WITH RECURSIVE edges0 AS (
      SELECT d.doc_id AS u, d.doc_id + 1 AS v
      FROM documents d JOIN documents e ON e.doc_id = d.doc_id + 1
      WHERE (d.doc_id + 1) % 5 != 0
        AND CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4 != 0
    ),
    edges AS (SELECT u, v FROM edges0 UNION SELECT v, u FROM edges0),
    reach(node, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
    ),
    comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node),
    bucketed AS (
      SELECT node AS doc_id, component,
             CAST(('0x' || substr(md5('split' || CAST(component AS VARCHAR)), 1, 15))
                  AS BIGINT) % 10000 AS b
      FROM comp
    )
    SELECT doc_id, CAST(component AS BIGINT) AS component,
           CASE WHEN b < 8000 THEN 'train'
                WHEN b < 9000 THEN 'val' ELSE 'test' END AS split
    FROM bucketed
    """,
)
def contamination_safe_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontaminated train/val/test assignment (text/clusters.py::
    contamination_safe_splits): components over the deterministic fixture
    pair graph (same chain-with-knockouts as near_dup_droplist), then an
    80/10/10 hash-band on the COMPONENT id — the oracle re-derives the
    closure recursively and the band arithmetic exactly, certifying that
    cluster members always land in the same split."""
    from pharmacodi_spark.text.clusters import contamination_safe_splits

    d = _t(spark, sf_dir, "documents")
    ids = d.select("doc_id")
    nxt = (F.col("doc_id") + 1).alias("v")
    knock = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 4 != 0
    )
    pairs = (
        ids.select("doc_id", nxt)
        .where((F.col("v") % 5 != 0) & knock)
        .join(ids.select(F.col("doc_id").alias("v")), "v")
        .select(F.col("doc_id").alias("doc_a"), F.col("v").alias("doc_b"))
    )
    splits = contamination_safe_splits(
        ids, pairs, [0.8, 0.1, 0.1], edges_canonical=True
    )
    labeled = [
        s.select("doc_id", F.col("component").cast("long").alias("component"),
                 F.lit(name).alias("split"))
        for s, name in zip(splits, ["train", "val", "test"])
    ]
    out = labeled[0]
    for nxt_df in labeled[1:]:
        out = out.unionByName(nxt_df)
    return out


# ---------------------------------------------------------------------------
# Round-5 LLM-pipeline additions: repetition quality gates, sequence
# packing, benchmark decontamination (library twins in text/analysis.py,
# text/packing.py, text/cleaning.py)
# ---------------------------------------------------------------------------


@q(
    "gopher_repetition",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    g2 AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                                           i -> toks[i] || ' ' || toks[i+1])) AS gram
      FROM t WHERE len(toks) >= 2
    ),
    g3 AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
      FROM t WHERE len(toks) >= 3
    ),
    c2 AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2),
    c3 AS (SELECT doc_id, gram, count(*) AS c FROM g3 GROUP BY 1, 2),
    top AS (SELECT doc_id, max(c) AS top_cnt FROM c2 GROUP BY 1),
    dup AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_occ,
                   sum(c) AS n_grams
            FROM c3 GROUP BY 1),
    n AS (SELECT doc_id, len(toks) AS n_tokens FROM t)
    SELECT n.doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(top_cnt, 0) AS BIGINT) AS top_cnt,
           CAST(coalesce(dup_occ, 0) AS BIGINT) AS dup_occ,
           CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
           CASE WHEN n_tokens > 0
                THEN CAST(2 * coalesce(top_cnt, 0) AS DOUBLE) / n_tokens
                ELSE 0.0 END AS top_frac,
           CASE WHEN coalesce(n_grams, 0) > 0
                THEN CAST(coalesce(dup_occ, 0) AS DOUBLE) / n_grams
                ELSE 0.0 END AS dup_frac,
           (200 * coalesce(top_cnt, 0) <= 20 * n_tokens
            AND 100 * coalesce(dup_occ, 0) <= 30 * coalesce(n_grams, 0)) AS keep
    FROM n LEFT JOIN top USING (doc_id) LEFT JOIN dup USING (doc_id)
    """,
)
def gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/RefinedWeb repetition gates (text/analysis.py::
    repetition_metrics): most-frequent-2-gram fraction + duplicated-3-gram
    occurrence fraction per doc, keep-flag via integer cross-multiplication
    (exact in every engine). Two (id, gram) count pipelines — shuffle keys
    never exceed (id, gram); no corpus-global state."""
    from pharmacodi_spark.text.analysis import repetition_metrics

    d = _t(spark, sf_dir, "documents")
    return repetition_metrics(d)


@q(
    "sequence_packing",
    """
    WITH n AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS token_start
      FROM n
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(token_start AS BIGINT) AS token_start,
           CAST(token_start // 128 AS BIGINT) AS first_example,
           CAST((token_start + greatest(n_tokens, 1) - 1) // 128 AS BIGINT)
             AS last_example,
           CAST((token_start + greatest(n_tokens, 1) - 1) // 128
                - token_start // 128 + 1 AS BIGINT) AS n_examples
    FROM c
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-length training-example packing (text/packing.py::
    pack_sequences, seq_len=128): global token-offset prefix sum via the
    fact-scale surrogate-id topology (range partition → partial sums → one
    broadcast offsets table → partition-local window) — the oracle's
    ORDER BY window is exactly the single-task plan this operator exists
    to avoid."""
    from pharmacodi_spark.text.packing import pack_sequences

    d = _t(spark, sf_dir, "documents")
    counted = d.select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda x: x != "")).alias(
            "n_tokens"
        ),
    )
    return pack_sequences(counted, seq_len=128)


@q(
    "benchmark_decontam",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 12),
               i -> md5(array_to_string(toks[i:i+12], ' ')))) AS gh
      FROM t WHERE len(toks) >= 13
    ),
    eg AS (SELECT DISTINCT gh FROM g WHERE doc_id % 97 = 0),
    tg AS (SELECT DISTINCT doc_id, gh FROM g WHERE doc_id % 97 <> 0),
    hits AS (
      SELECT doc_id, count(*) AS n_collisions
      FROM tg WHERE gh IN (SELECT gh FROM eg) GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(coalesce(n_collisions, 0) AS BIGINT) AS n_collisions,
           coalesce(n_collisions, 0) > 0 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
    LEFT JOIN hits USING (doc_id)
    """,
)
def benchmark_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style 13-gram benchmark decontamination (text/cleaning.py::
    decontaminate_against): eval slice = doc_id % 97 == 0 stands in for a
    held-out benchmark; train docs sharing any 13-gram are flagged with
    their distinct-collision count. Grams travel as md5 hashes — bodies
    never shuffle; the eval gram set is semi-join (broadcastable) side."""
    from pharmacodi_spark.text.cleaning import decontaminate_against

    d = _t(spark, sf_dir, "documents")
    train = d.where(F.col("doc_id") % 97 != 0)
    ev = d.where(F.col("doc_id") % 97 == 0)
    return decontaminate_against(train, ev, n=13)


@q(
    "mixture_sample",
    """
    WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    t AS (SELECT count(*) AS N FROM documents),
    r AS (
      SELECT source,
             least(1.0, 0.5 * sqrt(CAST((SELECT N FROM t) AS DOUBLE))
                          / sqrt(CAST(n AS DOUBLE))) AS rate
      FROM c
    )
    SELECT d.doc_id, d.source, r.rate
    FROM documents d JOIN r USING (source)
    WHERE CAST(('0x' || substr(md5('mix' || CAST(d.doc_id AS VARCHAR)), 1, 15))
               AS BIGINT) % 10000 < rate * 10000
    """,
)
def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-mixed corpus sampling (operators/sampling.py::
    temperature_mixture_sample, alpha=0.5, budget 0.5): per-source keep
    rate min(1, 0.5·sqrt(N/n_s)) — expected rows ∝ sqrt(n_s), flattening
    the source distribution like pretraining-mixture reweighting. The rate
    uses only sqrt/mult/div (correctly-rounded IEEE → bit-identical in
    both engines); membership is the md5 hash-draw of hash_sample/
    weighted_sample. Corpus rows never shuffle: counts broadcast in."""
    from pharmacodi_spark.operators.sampling import temperature_mixture_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return temperature_mixture_sample(
        d, "source", budget_frac=0.5, alpha=0.5, key_cols=["doc_id"], salt="mix"
    )


# ---------------------------------------------------------------------------
# Round-5 continuation: retrieval ranking, int8 ANN, deterministic training
# shuffle + byte-budget sharding, cross-doc passage dedup
# ---------------------------------------------------------------------------


@q(
    "bm25_topk",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
    tot AS (SELECT count(*) AS t_tokens FROM tok),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
           WHERE token IN ('table', 'scan', 'window', 'merge') GROUP BY 1, 2),
    dft AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
    j AS (
      SELECT tf.doc_id, tf.tf, dft.df, dl.dl,
             (SELECT t_tokens FROM tot) AS t_tokens,
             (SELECT n_docs FROM nd) AS n_docs
      FROM tf JOIN dft USING (token) JOIN dl USING (doc_id)
    ),
    terms AS (
      SELECT doc_id,
             greatest(CAST(((2 * n_docs + 2) * 1024) // (2 * df + 1)
                           AS BIGINT), 1) AS x,
             CAST((22 * tf * t_tokens * 1024)
                  // (10 * tf * t_tokens + 3 * t_tokens + 9 * dl * n_docs)
                  AS BIGINT) AS tfn
      FROM j
    ),
    scored AS (
      SELECT doc_id,
             ((((length(bin(x)) - 1) * 1024)
               + (((x - (CAST(1 AS BIGINT) << (length(bin(x)) - 1))) * 1024)
                  >> (length(bin(x)) - 1)))
              - 10240) * tfn AS term_score
      FROM terms
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_hit_terms,
           CAST(sum(term_score) AS BIGINT) AS score_fp
    FROM scored GROUP BY 1
    ORDER BY score_fp DESC, doc_id LIMIT 20
    """,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point BM25 top-20 for a 4-term query (text/retrieval.py::
    bm25_scores, k1=1.2 b=0.75, Lucene non-negative idf).  The idf log2
    is integer fixed-point (length(bin)·shift mantissa interpolation —
    bit-identical in both engines, the unigram_surprisal trick at 10
    fractional bits, retrieval.py::ilog2_fp); the tf
    normalization clears k1/b/avgdl fractions by cross-multiplying with
    10·T.  Token stream collapses map-side; df table and corpus totals
    broadcast; deterministic (score desc, doc_id) top-k."""
    from pharmacodi_spark.text.retrieval import bm25_scores

    d = _t(spark, sf_dir, "documents")
    return bm25_scores(d, ["table", "scan", "window", "merge"], k=20)


@q(
    "ann_int8_topk",
    """
    WITH m AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
               AS ma
      FROM embeddings
    ),
    un0 AS (
      SELECT vec_id, ma,
             CAST(unnest(embedding) AS DOUBLE) AS v,
             generate_subscripts(embedding, 1) AS pos
      FROM m
    ),
    un AS (
      SELECT vec_id, pos,
             CASE WHEN ma = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(floor(v * 127 / ma + 0.5) AS BIGINT) END AS qv
      FROM un0
    ),
    dots AS (
      SELECT vec_id, CAST(sum(qv * (((pos * 7) % 13) - 6)) AS BIGINT) AS qdot
      FROM un GROUP BY 1
    )
    SELECT vec_id, qdot FROM dots ORDER BY qdot DESC, vec_id LIMIT 20
    """,
)
def ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized similarity probe (text/similarity.py::
    int8_weighted_topk): per-vector symmetric quantization q=floor(x·127/
    max_abs+0.5) — only correctly-rounded IEEE ops, so the codes are
    bit-identical across engines — then an all-integer dot against the
    deterministic query vector of ann_dot_topk.  The Spark side is
    shuffle-free (transform/aggregate + TakeOrderedAndProject; the oracle's
    unnest+group is the same math).  Codes are 1 B/dim vs 4 B/dim floats:
    the 4×-smaller scan is the quantized-index scale story."""
    from pharmacodi_spark.text.similarity import int8_weighted_topk

    e = _t(spark, sf_dir, "embeddings")
    weights = [((p * 7) % 13) - 6 for p in range(1, 65)]
    return int8_weighted_topk(e, weights, k=20)


@q(
    "ann_int8_l2_topk",
    """
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt(list_reduce(
               list_transform(embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
               (a, b) -> a + b)) AS nrm
      FROM embeddings
    ),
    nv AS (
      SELECT vec_id,
             CASE WHEN nrm = 0
                  THEN list_transform(embedding, x -> CAST(x AS DOUBLE))
                  ELSE list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm)
             END AS e
      FROM n
    ),
    m AS (
      SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS ma
      FROM nv
    ),
    un AS (
      SELECT vec_id, ma, unnest(e) AS v, generate_subscripts(e, 1) AS pos
      FROM m
    ),
    qv AS (
      SELECT vec_id, ma, pos,
             CASE WHEN ma = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(floor(v * 127 / ma + 0.5) AS BIGINT) END AS q
      FROM un
    ),
    dots AS (
      SELECT vec_id, any_value(ma) AS ma,
             CAST(sum(q * (((pos * 7) % 13) - 6)) AS BIGINT) AS qdot
      FROM qv GROUP BY 1
    )
    SELECT vec_id, CAST(qdot AS DOUBLE) * ma AS score
    FROM dots ORDER BY score DESC, vec_id LIMIT 20
    """,
)
def ann_int8_l2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-exact variant of the int8 probe (VERDICT r5 item 3;
    text/similarity.py::int8_weighted_topk with ``l2_normalize=True``):
    vectors are divided by their l2 norm BEFORE max-abs coding — the codes
    are mathematically unchanged (the norm cancels in x·127/max|x|) but
    ``q_scale`` becomes the unit vector's max-abs, so the de-scaled score
    ``qdot·q_scale`` ranks by cosine up to 8-bit rounding instead of by
    dot/max_abs.  Exactness: sum-of-squares is a left fold (same order in
    Spark's F.aggregate and DuckDB's list_reduce), sqrt / divide / multiply
    are correctly-rounded IEEE ops, and the dot stays all-integer — so the
    double scores are bit-identical across engines.  The plan shape is the
    same zero-Exchange scan + TakeOrderedAndProject as ann_int8_topk."""
    from pharmacodi_spark.text.similarity import int8_weighted_topk

    e = _t(spark, sf_dir, "embeddings")
    weights = [((p * 7) % 13) - 6 for p in range(1, 65)]
    return int8_weighted_topk(e, weights, k=20, l2_normalize=True)


@q(
    "training_shuffle_shards",
    """
    WITH k AS (
      SELECT doc_id, n_chars,
             CAST(('0x' || substr(md5('shuf' || CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS shuffle_key
      FROM documents
    ),
    c AS (
      SELECT doc_id, shuffle_key, n_chars,
             coalesce(sum(n_chars) OVER (ORDER BY shuffle_key, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS byte_start
      FROM k
    )
    SELECT doc_id, shuffle_key,
           CAST(n_chars AS BIGINT) AS n_bytes,
           CAST(byte_start AS BIGINT) AS byte_start,
           CAST(byte_start // 16384 AS BIGINT) AS shard_id
    FROM c
    """,
)
def training_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle + byte-budget shard layout
    (text/packing.py::shuffle_shards, 16 KiB shards at this SF): docs
    re-sequenced by md5(salt||id) — a reproducible corpus-wide permutation
    — then the exclusive byte prefix sum in that order cut every
    shard_bytes assigns output shards of near-uniform size.  The prefix
    sum is the range-partition + broadcast-offsets topology (no
    single-task window); the oracle's global ORDER BY window is exactly
    the plan it avoids."""
    from pharmacodi_spark.text.packing import shuffle_shards

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return shuffle_shards(d, shard_bytes=16384)


@q(
    "passage_dedup",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    ch AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(0, CAST(floor((len(toks) - 1) / 16.0) AS BIGINT)),
               i -> md5(array_to_string(toks[i * 16 + 1 : i * 16 + 16], ' '))
             )) AS h
      FROM t WHERE len(toks) > 0
    ),
    cnt AS (SELECT h, count(DISTINCT doc_id) AS nd FROM ch GROUP BY 1),
    per AS (
      SELECT ch.doc_id, count(*) AS n_passages,
             sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS n_dup
      FROM ch JOIN cnt USING (h) GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(coalesce(n_passages, 0) AS BIGINT) AS n_passages,
           CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup_passages,
           CASE WHEN coalesce(n_passages, 0) > 0
                THEN CAST(coalesce(n_dup, 0) AS DOUBLE) / n_passages
                ELSE 0.0 END AS dup_frac,
           (2 * coalesce(n_dup, 0) <= coalesce(n_passages, 0)) AS keep
    FROM documents d LEFT JOIN per USING (doc_id)
    """,
)
def passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style cross-doc passage dedup (text/dedup.py::
    passage_dedup_stats, 16-token passages): passages repeated in ≥2
    distinct documents are shared boilerplate; docs more than half made
    of them are dropped (integer cross-multiplied keep gate).  Passages
    are built narrowly from the token array (no explode before the hash
    exists); only (id, hash) rows shuffle."""
    from pharmacodi_spark.text.dedup import passage_dedup_stats

    d = _t(spark, sf_dir, "documents")
    return passage_dedup_stats(d, window=16)


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


@q(
    "curation_pipeline",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
    -- stage 1a: unigram-surprisal gate (mean <= 24.05 bits, integer gate)
    cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
    tot AS (SELECT count(*) AS n FROM tok),
    bits AS (
      SELECT tok.doc_id,
             length(bin((SELECT n FROM tot) // c.c)) - 1 + 20 AS bits
      FROM tok JOIN cnt c USING (token)
    ),
    sur_keep AS (
      SELECT doc_id FROM (
        SELECT doc_id, count(*) AS n_words, sum(bits) AS sum_bits
        FROM bits GROUP BY 1
      ) WHERE 100 * sum_bits <= 2405 * n_words
    ),
    -- stage 1b: Gopher repetition gate
    g2 AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                                           i -> toks[i] || ' ' || toks[i+1])) AS gram
      FROM t WHERE len(toks) >= 2
    ),
    g3 AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
      FROM t WHERE len(toks) >= 3
    ),
    c2 AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2),
    c3 AS (SELECT doc_id, gram, count(*) AS c FROM g3 GROUP BY 1, 2),
    topg AS (SELECT doc_id, max(c) AS top_cnt FROM c2 GROUP BY 1),
    dupg AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_occ,
                    sum(c) AS n_grams FROM c3 GROUP BY 1),
    gop_keep AS (
      SELECT t.doc_id FROM t
      LEFT JOIN topg USING (doc_id) LEFT JOIN dupg USING (doc_id)
      WHERE 200 * coalesce(top_cnt, 0) <= 20 * len(toks)
        AND 100 * coalesce(dup_occ, 0) <= 30 * coalesce(n_grams, 0)
    ),
    -- stage 2: benchmark decontamination (eval slice = doc_id % 97 = 0)
    g13 AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 12),
               i -> md5(array_to_string(toks[i:i+12], ' ')))) AS gh
      FROM t WHERE len(toks) >= 13
    ),
    eg AS (SELECT DISTINCT gh FROM g13 WHERE doc_id % 97 = 0),
    contam AS (
      SELECT DISTINCT doc_id FROM g13
      WHERE doc_id % 97 <> 0 AND gh IN (SELECT gh FROM eg)
    ),
    s2 AS (
      SELECT d.doc_id FROM documents d
      JOIN gop_keep USING (doc_id)
      JOIN sur_keep USING (doc_id)
      WHERE d.doc_id % 97 <> 0
        AND d.doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    -- stage 3: cross-doc passage dedup AMONG SURVIVORS (16-token windows)
    ch AS (
      SELECT t.doc_id,
             unnest(list_transform(
               generate_series(0, CAST(floor((len(toks) - 1) / 16.0) AS BIGINT)),
               i -> md5(array_to_string(toks[i * 16 + 1 : i * 16 + 16], ' '))
             )) AS h
      FROM t JOIN s2 USING (doc_id) WHERE len(toks) > 0
    ),
    hc AS (SELECT h, count(DISTINCT doc_id) AS nd FROM ch GROUP BY 1),
    pd AS (
      SELECT ch.doc_id, count(*) AS n_passages,
             sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS n_dup
      FROM ch JOIN hc USING (h) GROUP BY 1
    ),
    s3 AS (
      SELECT s2.doc_id FROM s2 LEFT JOIN pd USING (doc_id)
      WHERE 2 * coalesce(n_dup, 0) <= coalesce(n_passages, 0)
    ),
    -- stage 4: exact dedup among survivors (min id per md5(text))
    ex AS (
      SELECT min(d.doc_id) AS doc_id
      FROM documents d JOIN s3 USING (doc_id)
      GROUP BY md5(d.text)
    ),
    -- stage 5: temperature mixture over the curated set (alpha=0.5)
    mc AS (
      SELECT d.source, count(*) AS n
      FROM documents d JOIN ex USING (doc_id) GROUP BY 1
    ),
    mt AS (SELECT sum(n) AS nn FROM mc),
    r AS (
      SELECT source,
             least(1.0, 0.5 * sqrt(CAST((SELECT nn FROM mt) AS DOUBLE))
                          / sqrt(CAST(n AS DOUBLE))) AS rate
      FROM mc
    )
    SELECT d.doc_id, d.source, r.rate
    FROM documents d JOIN ex USING (doc_id) JOIN r USING (source)
    WHERE CAST(('0x' || substr(md5('cur' || CAST(d.doc_id AS VARCHAR)), 1, 15))
               AS BIGINT) % 10000 < rate * 10000
    """,
)
def curation_pipeline(
    spark: SparkSession,
    sf_dir: str,
    docs: DataFrame | None = None,
    html_col: str | None = None,
) -> DataFrame:
    """End-to-end corpus curation — the LLM-data sibling of
    combine_pipeline: Gopher repetition gate ∧ unigram-surprisal gate →
    13-gram benchmark decontamination (doc_id%97==0 as the eval slice) →
    cross-doc passage dedup among survivors → exact dedup (min-id per
    content hash) → temperature mixture (alpha=0.5, budget 0.5, salt
    'cur').  The cascade is pipelines/curation_stream.py::
    curation_cascade: every stage is the library operator the standalone
    query gates, each survivor id set is a named stage barrier, and the
    whole cascade value-matches the composed CTE oracle.  ``html_col``
    prepends stage 0: the native main-content extractor turns crawled
    HTML into gate-ready prose in one zero-shuffle projection."""
    from pharmacodi_spark.pipelines.curation_stream import curation_cascade

    d = _t(spark, sf_dir, "documents") if docs is None else docs
    if html_col is not None:
        from pharmacodi_spark.text.html import html_to_text

        d = html_to_text(d, html_col=html_col, out_col="text")
        if html_col != "text":  # html stored IN the text column: the
            # extraction replaced it in place — dropping would lose it
            d = d.drop(html_col)
    return curation_cascade(d)[1]


@q(
    "curation_funnel",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
    cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
    tot AS (SELECT count(*) AS n FROM tok),
    bits AS (
      SELECT tok.doc_id,
             length(bin((SELECT n FROM tot) // c.c)) - 1 + 20 AS bits
      FROM tok JOIN cnt c USING (token)
    ),
    sur_keep AS (
      SELECT doc_id FROM (
        SELECT doc_id, count(*) AS n_words, sum(bits) AS sum_bits
        FROM bits GROUP BY 1
      ) WHERE 100 * sum_bits <= 2405 * n_words
    ),
    g2 AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                                           i -> toks[i] || ' ' || toks[i+1])) AS gram
      FROM t WHERE len(toks) >= 2
    ),
    g3 AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
      FROM t WHERE len(toks) >= 3
    ),
    c2 AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2),
    c3 AS (SELECT doc_id, gram, count(*) AS c FROM g3 GROUP BY 1, 2),
    topg AS (SELECT doc_id, max(c) AS top_cnt FROM c2 GROUP BY 1),
    dupg AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_occ,
                    sum(c) AS n_grams FROM c3 GROUP BY 1),
    gop_keep AS (
      SELECT t.doc_id FROM t
      LEFT JOIN topg USING (doc_id) LEFT JOIN dupg USING (doc_id)
      WHERE 200 * coalesce(top_cnt, 0) <= 20 * len(toks)
        AND 100 * coalesce(dup_occ, 0) <= 30 * coalesce(n_grams, 0)
    ),
    s1 AS (
      SELECT d.doc_id FROM documents d
      JOIN gop_keep USING (doc_id) JOIN sur_keep USING (doc_id)
      WHERE d.doc_id % 97 <> 0
    ),
    g13 AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 12),
               i -> md5(array_to_string(toks[i:i+12], ' ')))) AS gh
      FROM t WHERE len(toks) >= 13
    ),
    eg AS (SELECT DISTINCT gh FROM g13 WHERE doc_id % 97 = 0),
    contam AS (
      SELECT DISTINCT doc_id FROM g13
      WHERE doc_id % 97 <> 0 AND gh IN (SELECT gh FROM eg)
    ),
    s2 AS (
      SELECT doc_id FROM s1
      WHERE doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    ch AS (
      SELECT t.doc_id,
             unnest(list_transform(
               generate_series(0, CAST(floor((len(toks) - 1) / 16.0) AS BIGINT)),
               i -> md5(array_to_string(toks[i * 16 + 1 : i * 16 + 16], ' '))
             )) AS h
      FROM t JOIN s2 USING (doc_id) WHERE len(toks) > 0
    ),
    hc AS (SELECT h, count(DISTINCT doc_id) AS nd FROM ch GROUP BY 1),
    pd AS (
      SELECT ch.doc_id, count(*) AS n_passages,
             sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS n_dup
      FROM ch JOIN hc USING (h) GROUP BY 1
    ),
    s3 AS (
      SELECT s2.doc_id FROM s2 LEFT JOIN pd USING (doc_id)
      WHERE 2 * coalesce(n_dup, 0) <= coalesce(n_passages, 0)
    ),
    s4 AS (
      SELECT min(d.doc_id) AS doc_id
      FROM documents d JOIN s3 USING (doc_id)
      GROUP BY md5(d.text)
    ),
    mc AS (
      SELECT d.source, count(*) AS n
      FROM documents d JOIN s4 USING (doc_id) GROUP BY 1
    ),
    mt AS (SELECT sum(n) AS nn FROM mc),
    r AS (
      SELECT source,
             least(1.0, 0.5 * sqrt(CAST((SELECT nn FROM mt) AS DOUBLE))
                          / sqrt(CAST(n AS DOUBLE))) AS rate
      FROM mc
    ),
    samp AS (
      SELECT d.doc_id
      FROM documents d JOIN s4 USING (doc_id) JOIN r USING (source)
      WHERE CAST(('0x' || substr(md5('cur' || CAST(d.doc_id AS VARCHAR)), 1, 15))
                 AS BIGINT) % 10000 < rate * 10000
    )
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS stage_idx, 'quality' AS stage,
             CAST((SELECT count(*) FROM documents) AS BIGINT) AS rows_in,
             CAST((SELECT count(*) FROM s1) AS BIGINT) AS rows_kept
      UNION ALL SELECT 2, 'decontam',
             CAST((SELECT count(*) FROM s1) AS BIGINT),
             CAST((SELECT count(*) FROM s2) AS BIGINT)
      UNION ALL SELECT 3, 'passage_dedup',
             CAST((SELECT count(*) FROM s2) AS BIGINT),
             CAST((SELECT count(*) FROM s3) AS BIGINT)
      UNION ALL SELECT 4, 'exact_dedup',
             CAST((SELECT count(*) FROM s3) AS BIGINT),
             CAST((SELECT count(*) FROM s4) AS BIGINT)
      UNION ALL SELECT 5, 'mixture',
             CAST((SELECT count(*) FROM s4) AS BIGINT),
             CAST((SELECT count(*) FROM samp) AS BIGINT)
    ) ORDER BY stage_idx
    """,
)
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage audit table for the curation cascade (VERDICT r5 item 5):
    ``(stage_idx, stage, rows_in, rows_kept)`` for quality → decontam →
    passage-dedup → exact-dedup → mixture — the reference's row-count
    invariants (SURVEY §5, e.g. the combine pipeline's per-table row
    audits) applied to the LLM curation E2E.  ``rows_kept`` is monotone
    non-increasing down the funnel and each stage's ``rows_in`` equals the
    previous stage's ``rows_kept`` (pytest-guarded).

    Cost shape: the cascade runs ONCE (pipelines/curation_stream.py::
    curation_cascade — every survivor set is stage-barrier-pinned), and
    the funnel's counts are 1-row aggregates over those pinned
    metadata-scale id sets, chained by broadcast-size cross joins."""
    from pharmacodi_spark.pipelines.curation_stream import curation_cascade

    d = _t(spark, sf_dir, "documents")
    stages, _final = curation_cascade(d)
    prev = d.select("doc_id")
    rows = []
    for idx, (name, ids) in enumerate(stages, start=1):
        row = (
            prev.agg(F.count("*").cast("long").alias("rows_in"))
            .crossJoin(ids.agg(F.count("*").cast("long").alias("rows_kept")))
            .select(
                F.lit(idx).cast("long").alias("stage_idx"),
                F.lit(name).alias("stage"),
                "rows_in",
                "rows_kept",
            )
        )
        rows.append(row)
        prev = ids
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("stage_idx")


@q(
    "auto_salted_join_equiv",
    """
    SELECT l_orderkey, l_suppkey, s_name
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    """,
)
def auto_salted_join_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnose-then-act skew join under the oracle gate (operators/
    joins.py::auto_salted_join): the left key is profiled (bounded top-k
    collect), and the strategy — plain join vs salted with the measured
    salt factor — is picked from the measurement.  The tiny
    target_rows_per_task forces the salted path here, so the gate
    certifies the non-trivial branch: salting is an execution-topology
    detail invisible in the result rows."""
    from pharmacodi_spark.operators.joins import auto_salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    return auto_salted_join(
        li, supp, on="l_suppkey", target_rows_per_task=50
    ).select("l_orderkey", "l_suppkey", "s_name")


@q(
    "incremental_curation",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
    cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
    tot AS (SELECT count(*) AS n FROM tok),
    bits AS (
      SELECT tok.doc_id,
             length(bin((SELECT n FROM tot) // c.c)) - 1 + 20 AS bits
      FROM tok JOIN cnt c USING (token)
    ),
    sur_keep AS (
      SELECT doc_id FROM (
        SELECT doc_id, count(*) AS n_words, sum(bits) AS sum_bits
        FROM bits GROUP BY 1
      ) WHERE 100 * sum_bits <= 2405 * n_words
    ),
    g2 AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                                           i -> toks[i] || ' ' || toks[i+1])) AS gram
      FROM t WHERE len(toks) >= 2
    ),
    g3 AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
      FROM t WHERE len(toks) >= 3
    ),
    c2 AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2),
    c3 AS (SELECT doc_id, gram, count(*) AS c FROM g3 GROUP BY 1, 2),
    topg AS (SELECT doc_id, max(c) AS top_cnt FROM c2 GROUP BY 1),
    dupg AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_occ,
                    sum(c) AS n_grams FROM c3 GROUP BY 1),
    gop_keep AS (
      SELECT t.doc_id FROM t
      LEFT JOIN topg USING (doc_id) LEFT JOIN dupg USING (doc_id)
      WHERE 200 * coalesce(top_cnt, 0) <= 20 * len(toks)
        AND 100 * coalesce(dup_occ, 0) <= 30 * coalesce(n_grams, 0)
    ),
    g13 AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 12),
               i -> md5(array_to_string(toks[i:i+12], ' ')))) AS gh
      FROM t WHERE len(toks) >= 13
    ),
    eg AS (SELECT DISTINCT gh FROM g13 WHERE doc_id % 97 = 0),
    contam AS (
      SELECT DISTINCT doc_id FROM g13
      WHERE doc_id % 97 <> 0 AND gh IN (SELECT gh FROM eg)
    ),
    s2 AS (
      SELECT d.doc_id FROM documents d
      JOIN gop_keep USING (doc_id) JOIN sur_keep USING (doc_id)
      WHERE d.doc_id % 97 <> 0
        AND d.doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    ch AS (
      SELECT t.doc_id,
             unnest(list_transform(
               generate_series(0, CAST(floor((len(toks) - 1) / 16.0) AS BIGINT)),
               i -> md5(array_to_string(toks[i * 16 + 1 : i * 16 + 16], ' '))
             )) AS h
      FROM t JOIN s2 USING (doc_id) WHERE len(toks) > 0
    ),
    ow AS (SELECT h, min(doc_id) AS owner FROM ch GROUP BY 1),
    pd AS (
      SELECT ch.doc_id, count(*) AS n_passages,
             sum(CASE WHEN ow.owner < ch.doc_id THEN 1 ELSE 0 END) AS n_dup
      FROM ch JOIN ow USING (h) GROUP BY 1
    ),
    s3 AS (
      SELECT s2.doc_id FROM s2 LEFT JOIN pd USING (doc_id)
      WHERE 2 * coalesce(n_dup, 0) <= coalesce(n_passages, 0)
    ),
    s4 AS (
      SELECT min(d.doc_id) AS doc_id
      FROM documents d JOIN s3 USING (doc_id)
      GROUP BY md5(d.text)
    )
    SELECT d.doc_id, d.source FROM documents d JOIN s4 USING (doc_id)
    """,
)
def incremental_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming-curation BATCH TWIN (pipelines/curation_stream.py::
    incremental_curation_batch): gates 1-3 run the same library operators
    as curation_pipeline (repetition, unigram_surprisal against the
    corpus LM, ngram_hash_rows decontam), then FIRST-OWNER passage dedup
    (text/dedup.py::passage_first_owner_stats — a passage instance is
    duplicated iff its hash's minimum-id owner among entrants precedes
    this doc; the prefix-consistent semantics a micro-batched pass
    reproduces byte-identically against a persisted owner index), then
    min-id exact dedup.  Two differences from curation_pipeline remain:
    the count-distinct passage stage cannot be reproduced by a stream,
    and the mixture stage needs the corpus-global final counts (module
    docstring).  tests/test_curation_stream.py proves availableNow
    streaming over ascending id ranges ≡ this query."""
    from pharmacodi_spark.pipelines.curation_stream import (
        incremental_curation_batch,
    )

    d = _t(spark, sf_dir, "documents")
    return incremental_curation_batch(spark, d).select("doc_id", "source")


@q(
    "substring_dup_spans",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    w AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 7),
               i -> {'pos': i,
                     'h': CAST(('0x' || substr(md5(array_to_string(
                            toks[i:i+7], ' ')), 1, 15)) AS BIGINT)})) AS s
      FROM t WHERE len(toks) >= 8
    ),
    ww AS (SELECT doc_id, s.pos AS pos, s.h AS h FROM w),
    dh AS (SELECT h FROM ww GROUP BY h HAVING count(*) >= 2),
    dw AS (SELECT * FROM ww WHERE h IN (SELECT h FROM dh)),
    fl AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       IS NULL
                   OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                            + 8
                  THEN 1 ELSE 0 END AS ns
      FROM dw
    ),
    sp AS (
      SELECT doc_id, pos,
             sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS UNBOUNDED PRECEDING) AS span_id
      FROM fl
    )
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + 7 AS BIGINT) AS span_end,
           CAST(max(pos) + 7 - min(pos) + 1 AS BIGINT) AS span_tokens
    FROM sp GROUP BY doc_id, span_id
    """,
)
def substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplicate spans (text/dedup.py::repeated_spans,
    min_len=8 at fixture scale; Lee et al. 2021's ExactSubstr pass):
    stride-1 window hashes → corpus-wide ≥2-occurrence test → per-doc
    interval merge. One shuffle keyed by the 60-bit window hash; the
    interval merge is a per-doc window (embarrassingly parallel)."""
    from pharmacodi_spark.text.dedup import repeated_spans

    d = _t(spark, sf_dir, "documents")
    return repeated_spans(d, min_len=8)


@q(
    "substring_dedup_trim",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    w AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 7),
               i -> {'pos': i,
                     'h': CAST(('0x' || substr(md5(array_to_string(
                            toks[i:i+7], ' ')), 1, 15)) AS BIGINT)})) AS s
      FROM t WHERE len(toks) >= 8
    ),
    ww AS (SELECT doc_id, s.pos AS pos, s.h AS h FROM w),
    dh AS (SELECT h FROM ww GROUP BY h HAVING count(*) >= 2),
    dw AS (SELECT * FROM ww WHERE h IN (SELECT h FROM dh)),
    fl AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       IS NULL
                   OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                            + 8
                  THEN 1 ELSE 0 END AS ns
      FROM dw
    ),
    sp AS (
      SELECT doc_id, pos,
             sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS UNBOUNDED PRECEDING) AS span_id
      FROM fl
    ),
    spans AS (
      SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end
      FROM sp GROUP BY doc_id, span_id
    ),
    px AS (
      SELECT doc_id, unnest(toks) AS tkn,
             generate_subscripts(toks, 1) AS p
      FROM t
    ),
    keepx AS (
      SELECT px.doc_id, px.tkn, px.p FROM px
      WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.doc_id = px.doc_id
          AND px.p BETWEEN s.span_start AND s.span_end
      )
    ),
    agg AS (
      SELECT doc_id, string_agg(tkn, ' ' ORDER BY p) AS clean_text,
             count(*) AS n_kept
      FROM keepx GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(agg.clean_text, '') AS clean_text,
           CAST(len(t.toks) - coalesce(agg.n_kept, 0) AS BIGINT)
             AS n_removed_tokens
    FROM t LEFT JOIN agg USING (doc_id)
    """,
)
def substring_dedup_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The apply step of ExactSubstr dedup (text/dedup.py::
    trim_repeated_spans): every repeated span's tokens removed from every
    occurrence (the Lee et al. remove-all policy — no global ownership
    pass needed), text rebuilt with a native higher-order filter over the
    split array. Bodies never shuffle: spans ride to their doc as one
    aggregated array (metadata-scale), the rebuild happens on the doc's
    own scan partition."""
    from pharmacodi_spark.text.dedup import repeated_spans, trim_repeated_spans

    d = _t(spark, sf_dir, "documents")
    spans = repeated_spans(d, min_len=8)
    return trim_repeated_spans(d, spans).select(
        "doc_id", "clean_text", "n_removed_tokens"
    )


@q(
    "group_reservoir_sample",
    """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY CAST(('0x' || substr(md5('rs' ||
                         CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
                        doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 5
    """,
)
def group_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group reservoir (operators/sampling.py::
    sample_per_group, k=5 per source): the k smallest md5 draws per group
    — a reproducible uniform sample (the inspect-N-per-source /
    stable-eval-carve-out primitive), one shuffle on the group key +
    k-bounded per-group heap."""
    from pharmacodi_spark.operators.sampling import sample_per_group

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return sample_per_group(d, "source", 5, key_cols=["doc_id"], salt="rs")


@q(
    "document_chunks",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    c AS (
      SELECT doc_id, toks, len(toks) AS n,
             unnest(generate_series(0,
               CASE WHEN len(toks) <= 32 THEN 0
                    ELSE (len(toks) - 32 + 23) // 24 END)) AS j
      FROM t WHERE len(toks) > 0
    )
    SELECT doc_id,
           CAST(j AS BIGINT) AS chunk_id,
           CAST(j * 24 + 1 AS BIGINT) AS start_token,
           CAST(least(n - j * 24, 32) AS BIGINT) AS n_tokens,
           array_to_string(toks[j * 24 + 1 : j * 24 + 32], ' ') AS chunk_text
    FROM c
    """,
)
def document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping retrieval chunks (text/corpus.py::chunk_documents,
    32-token chunks / 8-token overlap at fixture scale) — the corpus →
    RAG-index preparation step. Chunk boundaries are the all-integer
    closed form (final chunk = first to reach the document end, no
    contained tails); the plan is shuffle-free — tokens split once into
    an array column, chunks are slice+join over it, one explode."""
    from pharmacodi_spark.text.corpus import chunk_documents

    d = _t(spark, sf_dir, "documents")
    return chunk_documents(d, chunk_tokens=32, overlap=8)


@q(
    "source_quality_rollup",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    g2 AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                                           i -> toks[i] || ' ' || toks[i+1])) AS gram
      FROM t WHERE len(toks) >= 2
    ),
    g3 AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
      FROM t WHERE len(toks) >= 3
    ),
    c2 AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2),
    c3 AS (SELECT doc_id, gram, count(*) AS c FROM g3 GROUP BY 1, 2),
    topg AS (SELECT doc_id, max(c) AS top_cnt FROM c2 GROUP BY 1),
    dupg AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_occ,
                    sum(c) AS n_grams FROM c3 GROUP BY 1),
    k AS (
      SELECT t.doc_id, len(toks) AS n_tokens,
             (200 * coalesce(top_cnt, 0) <= 20 * len(toks)
              AND 100 * coalesce(dup_occ, 0) <= 30 * coalesce(n_grams, 0))
               AS keep
      FROM t LEFT JOIN topg USING (doc_id) LEFT JOIN dupg USING (doc_id)
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST((sum(CASE WHEN keep THEN 1 ELSE 0 END) * 1000000)
                // count(*) AS BIGINT) AS keep_ppm,
           sum(CASE WHEN keep THEN 1 ELSE 0 END) * 1000000
             >= 500000 * count(*) AS source_ok
    FROM documents d JOIN k USING (doc_id)
    GROUP BY 1
    """,
)
def source_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level quality rollup (text/analysis.py::
    source_quality_rollup): the per-doc Gopher repetition gate aggregated
    to each document's SOURCE with an integer keep-ppm and an ok flag —
    the RefinedWeb/C4 origin-level filter. One aggregate keyed by source
    after the per-doc gates; the source table is domain-cardinality, and
    source_level_filter applies it as a broadcast semi-join (corpus never
    shuffles)."""
    from pharmacodi_spark.text.analysis import source_quality_rollup

    d = _t(spark, sf_dir, "documents")
    return source_quality_rollup(d)


@q(
    "vocab_growth_curve",
    """
    WITH ids AS (SELECT DISTINCT doc_id FROM documents),
    n AS (SELECT count(*) AS nd FROM ids),
    rk AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS r FROM ids),
    b AS (
      SELECT doc_id, ((r - 1) * 10) // (SELECT nd FROM n) AS bucket FROM rk
    ),
    tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS token
      FROM documents
    ),
    tb AS (SELECT tok.token, b.bucket, tok.doc_id FROM tok JOIN b USING (doc_id)),
    fb AS (SELECT token, min(bucket) AS fb FROM tb GROUP BY 1),
    pd AS (SELECT bucket, count(*) AS n_docs FROM b GROUP BY 1),
    pt AS (SELECT bucket, count(*) AS n_tokens FROM tb GROUP BY 1),
    pv AS (SELECT fb AS bucket, count(*) AS new_vocab FROM fb GROUP BY 1)
    SELECT CAST(pd.bucket AS BIGINT) AS bucket,
           CAST(sum(pd.n_docs) OVER (ORDER BY pd.bucket
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_docs_cum,
           CAST(sum(coalesce(pt.n_tokens, 0)) OVER (ORDER BY pd.bucket
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_tokens_cum,
           CAST(sum(coalesce(pv.new_vocab, 0)) OVER (ORDER BY pd.bucket
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_cum
    FROM pd LEFT JOIN pt USING (bucket) LEFT JOIN pv USING (bucket)
    ORDER BY bucket
    """,
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth (text/corpus.py::vocab_growth, 10
    buckets): cumulative distinct-token count over ascending doc-id
    prefixes — the is-this-natural-text sanity curve (linear growth ⇒
    id/hash pollution; the bend locates the bad ingest). Doc ranking
    rides the fact-scale surrogate-id topology (no single-task window);
    the only corpus-scale shuffle is keyed by token with map-side min
    collapse."""
    from pharmacodi_spark.text.corpus import vocab_growth

    d = _t(spark, sf_dir, "documents")
    return vocab_growth(d, buckets=10)


@q(
    "quality_classifier_score",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
    w AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('w' ||
               CAST(CAST(('0x' || substr(md5('q' || token), 1, 15)) AS BIGINT)
                    % 4096 AS VARCHAR)), 1, 15)) AS BIGINT) % 2001 - 1000
               AS wt
      FROM tok
    ),
    s AS (SELECT doc_id, CAST(sum(wt) AS BIGINT) AS score FROM w GROUP BY 1)
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           coalesce(s.score, 0) AS score_centi,
           CASE WHEN len(t.toks) > 0
                THEN 100 * coalesce(s.score, 0) >= 0 * len(t.toks)
                ELSE FALSE END AS keep
    FROM t LEFT JOIN s USING (doc_id)
    """,
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter (text/analysis.py::hashed_linear_score):
    a linear classifier over hashing-trick bag-of-words features — the
    fasttext/DCLM quality-classifier shape — run as a native per-document
    fold (no explode, no join, no shuffle to score; the corpus never
    leaves its scan partitions). The derived-weight mode keeps the whole
    path oracle-expressible; production swaps in exported fasttext or
    logistic-regression weights via the ``weights`` array (one broadcast
    literal, element_at per token)."""
    from pharmacodi_spark.text.analysis import hashed_linear_score

    d = _t(spark, sf_dir, "documents")
    return hashed_linear_score(d, weights=None, dim=4096, salt="q")


@q(
    "bigram_surprisal",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    tr AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 1),
               i -> {'x': toks[i], 'y': toks[i+1]})) AS g
      FROM t WHERE len(toks) >= 2
    ),
    tt AS (SELECT doc_id, g.x AS x, g.y AS y FROM tr),
    c2 AS (SELECT x, y, count(*) AS c2 FROM tt GROUP BY 1, 2),
    c1 AS (SELECT x, sum(c2) AS c1 FROM c2 GROUP BY 1),
    b AS (
      SELECT tt.doc_id,
             length(bin(c1 // c2)) - 1 + 20 AS bits
      FROM tt JOIN c2 USING (x, y) JOIN c1 USING (x)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_transitions,
           CAST(sum(bits) AS BIGINT) AS sum_bits,
           CAST(sum(bits) AS DOUBLE) / count(*) AS mean_bits
    FROM b GROUP BY doc_id
    """,
)
def bigram_surprisal_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order-Markov perplexity gate (text/corpus.py::
    bigram_surprisal): per-transition conditional surprisal
    −log2 p̂(y|x) with the corpus itself as the bigram LM, integer log2
    via length(bin(·))−1 so the score is cross-engine exact. One order
    deeper than the in-window unigram gate — catches incoherent token
    ORDER that unigram statistics cannot see."""
    from pharmacodi_spark.text.corpus import bigram_surprisal

    d = _t(spark, sf_dir, "documents")
    return bigram_surprisal(d)


@q(
    "hybrid_rrf_topk",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
    tot AS (SELECT count(*) AS t_tokens FROM tok),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
           WHERE token IN ('table', 'scan', 'window', 'merge') GROUP BY 1, 2),
    dft AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
    j AS (
      SELECT tf.doc_id, tf.tf, dft.df, dl.dl,
             (SELECT t_tokens FROM tot) AS t_tokens,
             (SELECT n_docs FROM nd) AS n_docs
      FROM tf JOIN dft USING (token) JOIN dl USING (doc_id)
    ),
    terms AS (
      SELECT doc_id,
             greatest(CAST(((2 * n_docs + 2) * 1024) // (2 * df + 1)
                           AS BIGINT), 1) AS x,
             CAST((22 * tf * t_tokens * 1024)
                  // (10 * tf * t_tokens + 3 * t_tokens + 9 * dl * n_docs)
                  AS BIGINT) AS tfn
      FROM j
    ),
    scored AS (
      SELECT doc_id,
             ((((length(bin(x)) - 1) * 1024)
               + (((x - (CAST(1 AS BIGINT) << (length(bin(x)) - 1))) * 1024)
                  >> (length(bin(x)) - 1)))
              - 10240) * tfn AS term_score
      FROM terms
    ),
    bm AS (
      SELECT doc_id, CAST(sum(term_score) AS BIGINT) AS score_fp
      FROM scored GROUP BY 1
      ORDER BY score_fp DESC, doc_id LIMIT 50
    ),
    bmr AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY score_fp DESC, doc_id) AS text_rank
      FROM bm
    ),
    m AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
               AS ma
      FROM embeddings
    ),
    un0 AS (
      SELECT vec_id, ma,
             CAST(unnest(embedding) AS DOUBLE) AS v,
             generate_subscripts(embedding, 1) AS pos
      FROM m
    ),
    un AS (
      SELECT vec_id, pos,
             CASE WHEN ma = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(floor(v * 127 / ma + 0.5) AS BIGINT) END AS qv
      FROM un0
    ),
    dots AS (
      SELECT vec_id, CAST(sum(qv * (((pos * 7) % 13) - 6)) AS BIGINT) AS qdot
      FROM un GROUP BY 1
    ),
    ann AS (
      SELECT vec_id, qdot FROM dots ORDER BY qdot DESC, vec_id LIMIT 50
    ),
    annr AS (
      SELECT vec_id AS doc_id,
             row_number() OVER (ORDER BY qdot DESC, vec_id) AS vec_rank
      FROM ann
    )
    SELECT doc_id,
           text_rank,
           vec_rank,
           CAST(coalesce(1048576 // (60 + text_rank), 0)
                + coalesce(1048576 // (60 + vec_rank), 0) AS BIGINT)
             AS rrf_fp
    FROM bmr FULL OUTER JOIN annr USING (doc_id)
    ORDER BY rrf_fp DESC, doc_id LIMIT 10
    """,
)
def hybrid_rrf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval with Reciprocal Rank Fusion
    (text/retrieval.py::hybrid_rrf_topk): BM25 top-50 and int8-dot top-50
    candidate lists fused by integer fixed-point ``2^20 div (60+rank)``
    sums — no score calibration between systems, engine-exact arithmetic.
    The rank windows run over the 50-row candidate lists, not the corpus;
    both retrievers end in TakeOrderedAndProject heaps, so the fusion
    stage is metadata-scale at any corpus size."""
    from pharmacodi_spark.text.retrieval import hybrid_rrf_topk

    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")
    weights = [((p * 7) % 13) - 6 for p in range(1, 65)]
    return hybrid_rrf_topk(
        d, e, ["table", "scan", "window", "merge"], weights, k=10, cand=50
    )


@q(
    "minhash_jaccard_est",
    """
    WITH sh AS (
      SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS shingle
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, greatest(len(toks)-4, 1))) AS i
            FROM (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents))
    ),
    sig AS (
      SELECT doc_id,
             min(CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT)) AS h0,
             min(CAST(('0x' || substr(md5(shingle), 9, 8)) AS BIGINT)) AS h1,
             min(CAST(('0x' || substr(md5(shingle), 17, 8)) AS BIGINT)) AS h2,
             min(CAST(('0x' || substr(md5(shingle), 25, 8)) AS BIGINT)) AS h3
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band, h0 AS v1, h1 AS v2 FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band, h2 AS v1, h3 AS v2 FROM sig
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.v1 = b.v1 AND a.v2 = b.v2
      WHERE a.doc_id < b.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           CAST((sa.h0 = sb.h0)::INT + (sa.h1 = sb.h1)::INT
                + (sa.h2 = sb.h2)::INT + (sa.h3 = sb.h3)::INT AS BIGINT)
             AS n_equal,
           CAST((((sa.h0 = sb.h0)::INT + (sa.h1 = sb.h1)::INT
                  + (sa.h2 = sb.h2)::INT + (sa.h3 = sb.h3)::INT)
                 * 1000000) // 4 AS BIGINT) AS est_ppm
    FROM pairs p
    JOIN sig sa ON sa.doc_id = p.doc_a
    JOIN sig sb ON sb.doc_id = p.doc_b
    """,
)
def minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash Jaccard estimation over the LSH candidate pairs
    (text/dedup.py::estimate_jaccard): the referee between candidate
    generation and exact verification — Ĵ = matching signature components
    / k, as integer ppm. The signature is computed ONCE and
    stage-barrier-pinned (metadata-scale: id + k longs), then feeds both
    the band-bucket pair expansion and the two estimator joins — the lazy
    alternative re-runs the shingle+md5 subplan three times."""
    from pharmacodi_spark.barrier import stage_barrier
    from pharmacodi_spark.text.dedup import (
        estimate_jaccard,
        md5_band_cells,
        md5_signature,
        pairs_from_cells,
    )

    d = _t(spark, sf_dir, "documents")
    sig = stage_barrier(md5_signature(d), name="jacc-sig")
    pairs = pairs_from_cells(md5_band_cells(sig))
    return estimate_jaccard(sig, pairs, num_hashes=4)
