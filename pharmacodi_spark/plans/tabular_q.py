"""Join, key, reshape and I/O rows (operators/joins, keys, reshape, scd; io; sources; multimodal)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pharmacodi_spark.functions.scalar import local_df
from pharmacodi_spark.plans.queries import q, _t, _rnd


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
    frames = frame_sample_plan(media).select(
        "media_id",
        F.lit("frame").alias("item"),
        F.col("frame_ts_ms").cast("long").alias("a"),
        F.lit(None).cast("long").alias("b"),
    )
    resized = resize_plan(media).select(
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
