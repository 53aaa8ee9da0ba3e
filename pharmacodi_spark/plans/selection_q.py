"""Sampling, DSIR, curation and decontam rows (text/selection, text/cleaning, operators/sampling)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pharmacodi_spark.plans.queries import (
    q,
    _t,
    _il,
    _il_g,
    _host_rank_parts,
    _host_rank_df,
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
        d, "source", key_cols=["doc_id"], salt="mix"
    )


# the curated-survivor SQL, shared verbatim with curation_select_pipeline
# (nested there as a CTE: DuckDB allows WITH inside a CTE body) —
# one source of truth for the five curation stages
_CURATION_SQL = """
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
    """


@q("curation_pipeline", _CURATION_SQL)
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


# ---------------------------------------------------------------------------
# DSIR importance selection (text/selection.py)
# ---------------------------------------------------------------------------

_DSIR_DIM = 1024
_DSIR_SALT = "d"
_DSIR_K = 50


@q(
    "dsir_select",
    f"""
    WITH tok AS (
      SELECT doc_id, (lang = 'en') AS is_t,
             unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS token
      FROM documents
    ),
    bk AS (
      SELECT doc_id, is_t,
             CAST(('0x' || substr(md5('{_DSIR_SALT}' || token), 1, 15))
                  AS BIGINT) % {_DSIR_DIM} AS bucket
      FROM tok
    ),
    c AS (
      SELECT bucket, count(*) AS cr,
             sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct
      FROM bk GROUP BY 1
    ),
    tot AS (
      SELECT sum(cr) + {_DSIR_DIM} AS tr, sum(ct) + {_DSIR_DIM} AS tt FROM c
    ),
    lam AS (
      SELECT bucket,
             ({_il("ct + 1")} - {_il("tt")}
              - {_il("cr + 1")} + {_il("tr")}) AS lam
      FROM c, tot
    ),
    s AS (
      SELECT bk.doc_id, count(*) AS n_tokens, sum(lam.lam) AS dsir_fp
      FROM bk JOIN lam USING (bucket) GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(s.dsir_fp, 0) AS BIGINT) AS dsir_fp
    FROM documents d LEFT JOIN s USING (doc_id)
    ORDER BY dsir_fp DESC, d.doc_id
    LIMIT {_DSIR_K}
    """,
)
def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (text/selection.py, Xie et al. 2023): hashed
    bag-of-words importance log-ratio between a target domain (here
    ``lang='en'``) and the raw corpus, fixed-point integer log2, top-k
    most-target-like docs.  Training shuffles ≤dim bucket rows; scoring is
    a ZERO-shuffle native fold (λ rides as one array literal); selection is
    TakeOrderedAndProject."""
    from pharmacodi_spark.text.selection import dsir_topk

    d = _t(spark, sf_dir, "documents")
    return dsir_topk(d, target=F.col("lang") == "en", k=_DSIR_K, dim=_DSIR_DIM,
                     salt=_DSIR_SALT)


@q(
    "quality_percentile_gate",
    """
    WITH h AS (SELECT n_chars AS score, count(*) AS n FROM documents GROUP BY 1),
    c AS (SELECT score, n,
                 sum(n) OVER (ORDER BY score DESC
                              ROWS UNBOUNDED PRECEDING) AS cum
          FROM h),
    tot AS (SELECT sum(n) AS nt FROM h),
    thr AS (SELECT min(score) AS thr FROM c, tot
            WHERE cum - n < (nt * 30) // 100)
    SELECT d.doc_id, d.n_chars, d.source
    FROM documents d, thr WHERE d.n_chars >= thr.thr
    """,
)
def quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global top-p% gate (text/selection.py::percentile_gate,
    p=30 on n_chars): integer scores collapse to a distinct-score
    histogram, the cumulative count from the top finds the threshold on
    that metadata-scale table, the 1-row threshold broadcasts back — the
    DCLM keep-top-p%-by-classifier-score shape with NO global sort and no
    row_number lottery (ties at the threshold all survive)."""
    from pharmacodi_spark.text.selection import percentile_gate

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars", "source")
    return percentile_gate(d, "n_chars", 30)


@q(
    "embedding_prototypicality",
    """
    WITH qv AS (
      SELECT label, vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT))
               AS q
      FROM embeddings
    ),
    u AS (
      SELECT label,
             unnest(list_transform(generate_series(1, len(q)),
               i -> {'pos': i, 'v': q[i]})) AS e
      FROM qv
    ),
    s AS (
      SELECT label, e.pos AS pos, sum(e.v) AS s, count(*) AS n
      FROM u GROUP BY 1, 2
    ),
    sl AS (
      SELECT label, list(s ORDER BY pos) AS sarr, max(n) AS n
      FROM s GROUP BY 1
    )
    SELECT qv.label, qv.vec_id,
           CAST(list_sum(list_transform(generate_series(1, len(qv.q)),
                i -> (sl.n * qv.q[i] - sl.sarr[i])
                     * (sl.n * qv.q[i] - sl.sarr[i]))) AS BIGINT)
             AS dist2_scaled
    FROM qv JOIN sl USING (label)
    """,
)
def embedding_prototypicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototypicality pruning scores (text/selection.py::prototypicality,
    Sorscher et al. 2022): all-integer ‖n·q − S‖² distance from the
    own-group centroid, no ratio ever materializes. Group sums are
    (groups × dim) index metadata collected once; scoring is a
    zero-shuffle fold over the map literal."""
    from pharmacodi_spark.text.selection import prototypicality

    e = _t(spark, sf_dir, "embeddings")
    return prototypicality(e)


# ---------------------------------------------------------------------------
# Targeted-selection E2E (text/selection.py::selection_pipeline)
# ---------------------------------------------------------------------------


def _dsir_sql(src: str, dim: int, salt: str) -> str:
    """DSIR CTE chain over an arbitrary source CTE (columns doc_id, text,
    lang) — the oracle twin of dsir_train_weights + dsir_score."""
    return f"""
    tok AS (
      SELECT doc_id, (lang = 'en') AS is_t,
             unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS token
      FROM {src}
    ),
    bk AS (
      SELECT doc_id, is_t,
             CAST(('0x' || substr(md5('{salt}' || token), 1, 15))
                  AS BIGINT) % {dim} AS bucket
      FROM tok
    ),
    cc AS (
      SELECT bucket, count(*) AS cr,
             sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct
      FROM bk GROUP BY 1
    ),
    tot2 AS (
      SELECT sum(cr) + {dim} AS tr, sum(ct) + {dim} AS tt FROM cc
    ),
    lam AS (
      SELECT bucket,
             ({_il("ct + 1")} - {_il("tt")}
              - {_il("cr + 1")} + {_il("tr")}) AS lam
      FROM cc, tot2
    ),
    sc AS (
      SELECT bk.doc_id, count(*) AS n_tokens, sum(lam.lam) AS dsir_fp
      FROM bk JOIN lam USING (bucket) GROUP BY 1
    )"""


@q(
    "selection_pipeline",
    f"""
    WITH h AS (SELECT n_chars AS score, count(*) AS n
               FROM documents GROUP BY 1),
    c AS (SELECT score, n,
                 sum(n) OVER (ORDER BY score DESC
                              ROWS UNBOUNDED PRECEDING) AS cum
          FROM h),
    tot AS (SELECT sum(n) AS nt FROM h),
    thr AS (SELECT min(score) AS thr FROM c, tot
            WHERE cum - n < (nt * 70) // 100),
    surv AS (SELECT d.doc_id, d.text, d.lang
             FROM documents d, thr WHERE d.n_chars >= thr.thr),
    {_dsir_sql("surv", _DSIR_DIM, _DSIR_SALT)}
    SELECT surv.doc_id,
           CAST(coalesce(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(sc.dsir_fp, 0) AS BIGINT) AS dsir_fp
    FROM surv LEFT JOIN sc USING (doc_id)
    ORDER BY dsir_fp DESC, surv.doc_id
    LIMIT 200
    """,
)
def selection_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted-selection E2E (text/selection.py::selection_pipeline):
    exact top-70% percentile gate on n_chars → survivor-id stage barrier
    → DSIR (λ trained on the survivors, target lang='en') → top-200.
    DSIR consumes the survivors twice, so the gate's id set is pinned
    (stage_barrier) and both passes broadcast-join fresh pruned scans —
    the anti-plan-blowup discipline from the curation cascade."""
    from pharmacodi_spark.text.selection import selection_pipeline

    d = _t(spark, sf_dir, "documents")
    return selection_pipeline(
        d, target=F.col("lang") == "en", keep_pct=70, k=200,
        dim=_DSIR_DIM, salt=_DSIR_SALT,
    )


# ---------------------------------------------------------------------------
# Training-run token budget (text/selection.py::token_budget_report)
# ---------------------------------------------------------------------------


@q(
    "token_budget_report",
    """
    WITH slim AS (
      SELECT source, doc_id,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS nt,
             md5(text) AS k
      FROM documents
    ),
    f AS (
      SELECT source, nt,
             (row_number() OVER (PARTITION BY k ORDER BY doc_id) = 1) AS keep
      FROM slim
    ),
    per AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS raw_docs,
             CAST(sum(nt) AS BIGINT) AS raw_tokens,
             CAST(sum(CASE WHEN keep THEN nt ELSE 0 END) AS BIGINT)
               AS kept_tokens
      FROM f GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(kept_tokens) AS BIGINT) AS t FROM per)
    SELECT source, raw_docs, raw_tokens, kept_tokens,
           CAST(((raw_tokens - kept_tokens) * 1000000)
                // greatest(raw_tokens, 1) AS BIGINT) AS dup_ppm,
           least(1.0, 0.5 * sqrt(CAST(t AS DOUBLE))
                       / sqrt(CAST(kept_tokens AS DOUBLE))) AS rate,
           CAST(floor(least(1.0, 0.5 * sqrt(CAST(t AS DOUBLE))
                             / sqrt(CAST(kept_tokens AS DOUBLE)))
                      * CAST(kept_tokens AS DOUBLE)) AS BIGINT)
             AS expected_tokens
    FROM per, tot
    """,
)
def token_budget_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-run planning table (text/selection.py::token_budget_report):
    per-origin raw/deduped token mass, duplicate loss, the α=0.5
    temperature sampling rate over KEPT tokens (sqrt/mult/div only —
    bit-identical IEEE), and the expected token contribution. One corpus
    pass: keeper window + token count share a (group, id, hash, int)
    projection; the total is an integer window-sum over #groups rows."""
    from pharmacodi_spark.text.selection import token_budget_report

    d = _t(spark, sf_dir, "documents")
    return token_budget_report(d)


# ---------------------------------------------------------------------------
# DSIR importance RESAMPLING (the "R": Gumbel-max race, all-integer base-2)
# ---------------------------------------------------------------------------

_GU = ("(CAST(('0x' || substr(md5('g' || CAST(doc_id AS VARCHAR)), 1, 15)) "
       "AS BIGINT) + 1)")


@q(
    "dsir_resample",
    f"""
    WITH {_dsir_sql("documents", _DSIR_DIM, _DSIR_SALT).lstrip()},
    scored AS (
      SELECT d.doc_id,
             CAST(coalesce(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
             CAST(coalesce(sc.dsir_fp, 0) AS BIGINT) AS dsir_fp
      FROM documents d LEFT JOIN sc USING (doc_id)
    ),
    keyed AS (
      SELECT doc_id, n_tokens, dsir_fp,
             CAST(dsir_fp + (10240 - {_il(f"greatest(61440 - {_il_g(_GU)}, 1)")})
                  AS BIGINT) AS gumbel_key
      FROM scored
    )
    SELECT doc_id, n_tokens, dsir_fp, gumbel_key
    FROM keyed ORDER BY gumbel_key DESC, doc_id LIMIT 100
    """,
)
def dsir_resample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance RESAMPLING (text/selection.py::gumbel_topk_resample):
    k docs drawn ∝ softmax of the importance log-weight via the base-2
    Gumbel-max race — both logs in integer fixed point (md5 draw → 60-bit
    u; G₂ = (10≪10) − il((60≪10) − il(u+1))), so the race is bit-identical
    across engines. The paper's resampling step, not a threshold gate;
    zero shuffles + TakeOrderedAndProject."""
    from pharmacodi_spark.text.selection import (
        dsir_score, dsir_train_weights, gumbel_topk_resample,
    )

    d = _t(spark, sf_dir, "documents")
    lam = dsir_train_weights(
        d, F.col("lang") == "en", dim=_DSIR_DIM, salt=_DSIR_SALT
    )
    scored = dsir_score(d, lam, dim=_DSIR_DIM, salt=_DSIR_SALT)
    return gumbel_topk_resample(scored, k=100, salt="g")


# ---------------------------------------------------------------------------
# UniMax budget allocation (text/selection.py::unimax_allocation)
# ---------------------------------------------------------------------------

_UM_B = 20_000
_UM_E = 2


@q(
    "unimax_allocation",
    f"""
    WITH c AS (
      SELECT source,
             CAST(sum(len(list_filter(string_split(text, ' '),
                                      x -> x <> ''))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1
    ),
    r AS (
      SELECT source, n_tokens, n_tokens * {_UM_E} AS cap,
             row_number() OVER (ORDER BY n_tokens * {_UM_E}, source) AS i,
             sum(n_tokens * {_UM_E}) OVER (ORDER BY n_tokens * {_UM_E}, source
               ROWS UNBOUNDED PRECEDING) AS p,
             count(*) OVER () AS m
      FROM c
    ),
    rr AS (
      SELECT *, ((p - cap) + (m - i + 1) * cap <= {_UM_B}) AS ok FROM r
    ),
    a AS (
      SELECT CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS istar,
             CAST(max(CASE WHEN ok THEN p ELSE 0 END) AS BIGINT) AS pistar,
             CAST(max(m) AS BIGINT) AS mm
      FROM rr
    )
    SELECT rr.source, rr.n_tokens, CAST(rr.cap AS BIGINT) AS cap,
           CAST(CASE WHEN a.istar >= a.mm THEN rr.cap
                ELSE least(rr.cap,
                           ({_UM_B} - a.pistar) // (a.mm - a.istar)) END
                AS BIGINT) AS alloc,
           CAST((CASE WHEN a.istar >= a.mm THEN rr.cap
                 ELSE least(rr.cap,
                            ({_UM_B} - a.pistar) // (a.mm - a.istar)) END
                 * 1000000) // greatest(rr.n_tokens, 1) AS BIGINT)
             AS epochs_ppm
    FROM rr, a
    """,
)
def unimax_allocation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax token-budget allocation (text/selection.py::
    unimax_allocation, Chung et al. 2023): exact integer water-filling of
    a 20k-token budget across origins with a 2-epoch cap — the
    uniform-up-to-epoch-cap mixture law. One fact-scale aggregate; every
    window after runs on #origins rows. (At sf0.001 the budget exceeds
    Σcap and every origin allocates its cap — the degenerate branch; at
    sf0.01 the waterline branch engages.)"""
    from pharmacodi_spark.text.selection import unimax_allocation

    d = _t(spark, sf_dir, "documents")
    return unimax_allocation(d, budget_tokens=_UM_B, max_epochs=_UM_E)


# ---------------------------------------------------------------------------
# Capstone E2E: curation cascade + DSIR selection (six stages, one oracle)
# ---------------------------------------------------------------------------


@q(
    "curation_select_pipeline",
    f"""
    WITH cur AS ({_CURATION_SQL}
    ),
    surv AS (
      SELECT d.doc_id, d.text, d.lang
      FROM documents d JOIN cur USING (doc_id)
    ),
    {_dsir_sql("surv", _DSIR_DIM, _DSIR_SALT).lstrip()}
    SELECT surv.doc_id,
           CAST(coalesce(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(sc.dsir_fp, 0) AS BIGINT) AS dsir_fp
    FROM surv LEFT JOIN sc USING (doc_id)
    ORDER BY dsir_fp DESC, surv.doc_id
    LIMIT 100
    """,
)
def curation_select_pipeline(
    spark: SparkSession,
    sf_dir: str,
) -> DataFrame:
    """The full training-data story in ONE cascade: the five-stage batch
    curation cascade (pipelines/curation_stream.py::curation_cascade —
    Gopher ∧ surprisal → 13-gram decontam → passage dedup → exact dedup →
    temperature mixture) feeding DSIR importance selection TRAINED ON THE
    CURATED POOL (target lang='en') → the 100 most target-like curated
    documents.  Six survivor-set stage barriers end to end (durable when
    ``spark.pharmacodi.barrierDir`` is set, see pharmacodi_spark.barrier);
    the cascade and both selection passes join the same pruned documents
    scan.  The oracle nests the curation SQL verbatim as a CTE and extends
    it with the DSIR chain — one source of truth per stage."""
    from pharmacodi_spark.barrier import stage_barrier
    from pharmacodi_spark.pipelines.curation_stream import curation_cascade
    from pharmacodi_spark.text.selection import dsir_score, dsir_train_weights

    d = _t(spark, sf_dir, "documents")
    _stages, final = curation_cascade(d)
    ids = stage_barrier(final.select("doc_id"), name="curation-s6-select")
    surv = d.join(ids, "doc_id")  # AQE decides; see selection_pipeline
    lam = dsir_train_weights(
        surv, F.col("lang") == "en", dim=_DSIR_DIM, salt=_DSIR_SALT
    )
    scored = dsir_score(surv, lam, dim=_DSIR_DIM, salt=_DSIR_SALT)
    return scored.orderBy(F.desc("dsir_fp"), F.asc("doc_id")).limit(100)


@q(
    "decontam_attribution",
    """
    WITH t AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 12),
               i -> md5(array_to_string(toks[i:i+12], ' ')))) AS gh
      FROM t WHERE len(toks) >= 13
    ),
    eg AS (SELECT DISTINCT gh FROM g WHERE doc_id % 97 = 0),
    tg AS (SELECT DISTINCT doc_id, gh FROM g WHERE doc_id % 97 <> 0),
    hits AS (SELECT doc_id, count(*) AS n_collisions FROM tg
             WHERE gh IN (SELECT gh FROM eg) GROUP BY 1),
    per AS (
      SELECT d.doc_id, d.source, coalesce(h.n_collisions, 0) AS n_collisions
      FROM documents d LEFT JOIN hits h USING (doc_id)
      WHERE d.doc_id % 97 <> 0
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS docs_in,
           CAST(sum(CASE WHEN n_collisions > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_flagged,
           CAST(sum(n_collisions) AS BIGINT) AS n_collisions,
           CAST((sum(CASE WHEN n_collisions > 0 THEN 1 ELSE 0 END) * 1000000)
                // count(*) AS BIGINT) AS flagged_ppm
    FROM per GROUP BY source
    """,
)
def decontam_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source contamination funnel: the GPT-3 13-gram decontamination
    (text/cleaning.py::decontaminate_against, same eval slice as
    benchmark_decontam) attributed back to origin — which source is
    leaking the benchmark. Same scale shape as the underlying op (grams
    travel as md5, eval set is the broadcastable semi-join side) plus one
    per-source metadata-scale rollup; ppm is exact integer division
    (docs_in·10⁶ fits int64 for any per-source corpus < 9·10¹² docs)."""
    from pharmacodi_spark.text.cleaning import decontaminate_against

    d = _t(spark, sf_dir, "documents")
    train = d.where(F.col("doc_id") % 97 != 0)
    ev = d.where(F.col("doc_id") % 97 == 0)
    flags = decontaminate_against(train, ev, n=13)
    j = flags.join(train.select("doc_id", "source"), "doc_id")
    return (
        j.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("docs_in"),
            F.sum(F.col("contaminated").cast("int"))
            .cast("long")
            .alias("docs_flagged"),
            F.sum("n_collisions").cast("long").alias("n_collisions"),
        )
        .withColumn(
            "flagged_ppm",
            F.expr("(docs_flagged * 1000000) div docs_in").cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# Fuzzy (MinHash) benchmark decontamination (text/cleaning.py::
# fuzzy_decontaminate) and domain-quality rollup (text/urls.py)
# ---------------------------------------------------------------------------

_FDC_SIG = """
      SELECT doc_id,
             min(CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT)) AS h0,
             min(CAST(('0x' || substr(md5(shingle), 9, 8)) AS BIGINT)) AS h1,
             min(CAST(('0x' || substr(md5(shingle), 17, 8)) AS BIGINT)) AS h2,
             min(CAST(('0x' || substr(md5(shingle), 25, 8)) AS BIGINT)) AS h3
      FROM (
        SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS shingle
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, greatest(len(toks)-4, 1))) AS i
              FROM (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents WHERE doc_id % 97 {op} 0))
      ) GROUP BY doc_id
"""


@q(
    "fuzzy_decontam",
    f"""
    WITH sig_t AS ({_FDC_SIG.format(op="<>")}),
    sig_e AS ({_FDC_SIG.format(op="=")}),
    cells_t AS (
      SELECT doc_id, 0 AS band, h0 AS v1, h1 AS v2 FROM sig_t
      UNION ALL SELECT doc_id, 1, h2, h3 FROM sig_t
    ),
    cells_e AS (
      SELECT doc_id AS eval_id, 0 AS band, h0 AS v1, h1 AS v2 FROM sig_e
      UNION ALL SELECT doc_id, 1, h2, h3 FROM sig_e
    ),
    cand AS (
      SELECT DISTINCT t.doc_id, e.eval_id
      FROM cells_t t JOIN cells_e e USING (band, v1, v2)
    ),
    est AS (
      SELECT c.doc_id, c.eval_id,
             ((CASE WHEN a.h0 = b.h0 THEN 1 ELSE 0 END)
              + (CASE WHEN a.h1 = b.h1 THEN 1 ELSE 0 END)
              + (CASE WHEN a.h2 = b.h2 THEN 1 ELSE 0 END)
              + (CASE WHEN a.h3 = b.h3 THEN 1 ELSE 0 END)) AS n_equal
      FROM cand c
      JOIN sig_t a ON a.doc_id = c.doc_id
      JOIN sig_e b ON b.doc_id = c.eval_id
    ),
    best AS (
      SELECT doc_id, eval_id, (n_equal * 1000000) // 4 AS est_ppm
      FROM (
        SELECT doc_id, eval_id, n_equal,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY n_equal DESC, eval_id) AS rn
        FROM est
      ) WHERE rn = 1
    )
    SELECT d.doc_id,
           CAST(best.eval_id AS BIGINT) AS matched_eval_id,
           CAST(coalesce(best.est_ppm, 0) AS BIGINT) AS est_ppm,
           coalesce(best.est_ppm, 0) < 500000 AS keep
    FROM documents d LEFT JOIN best ON best.doc_id = d.doc_id
    WHERE d.doc_id % 97 <> 0
    """,
)
def fuzzy_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-match benchmark decontamination
    (text/cleaning.py::fuzzy_decontaminate): the paraphrase pass exact
    13-gram decontam misses — MinHash similarity between every train doc
    and the eval slice (doc_id % 97 = 0). Eval band cells BROADCAST
    against the train cells (benchmarks are tiny next to the corpus), the
    Jaccard estimator joins signatures only for candidates, bodies never
    shuffle. md5-slice 4-hash signature for oracle parity (the library
    default is xxhash64)."""
    from pharmacodi_spark.text.cleaning import fuzzy_decontaminate
    from pharmacodi_spark.text.dedup import md5_signature

    d = _t(spark, sf_dir, "documents")
    return fuzzy_decontaminate(
        d.where(F.col("doc_id") % 97 != 0),
        d.where(F.col("doc_id") % 97 == 0),
        num_hashes=4,
        bands=2,
        min_est_ppm=500_000,
        sig_fn=md5_signature,
    )


# ---------------------------------------------------------------------------
# Rank-weighted selection (ROADMAP r9 candidate): link-graph authority
# prior × DSIR content importance, combined in log space
# ---------------------------------------------------------------------------

_RW_ITERS = 2  # the cheap prior: authority_gate's 6-iteration CTE runs
# minutes at sf0.01 in DuckDB (ROADMAP note); 2 iterations keep the same
# integer algebra and a sub-second oracle
_RW_K = 50

_DSIR_CTES = f"""
    tok AS (
      SELECT doc_id, (lang = 'en') AS is_t,
             unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS token
      FROM documents
    ),
    bk AS (
      SELECT doc_id, is_t,
             CAST(('0x' || substr(md5('{_DSIR_SALT}' || token), 1, 15))
                  AS BIGINT) % {_DSIR_DIM} AS bucket
      FROM tok
    ),
    c AS (
      SELECT bucket, count(*) AS cr,
             sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct
      FROM bk GROUP BY 1
    ),
    tot AS (
      SELECT sum(cr) + {_DSIR_DIM} AS tr, sum(ct) + {_DSIR_DIM} AS tt FROM c
    ),
    lam AS (
      SELECT bucket,
             ({_il("ct + 1")} - {_il("tt")}
              - {_il("cr + 1")} + {_il("tr")}) AS lam
      FROM c, tot
    ),
    s AS (
      SELECT bk.doc_id, sum(lam.lam) AS dsir_fp
      FROM bk JOIN lam USING (bucket) GROUP BY 1
    )"""


def _rank_weighted_sql() -> str:
    return (
        "WITH "
        + ",\n    ".join(_host_rank_parts(_RW_ITERS))
        + f""",
    ranks AS (SELECT v AS host, r FROM r{_RW_ITERS}),
    {_DSIR_CTES}
    SELECT d.doc_id,
           lower(d.source) || '.example.com' AS host,
           CAST(ranks.r AS BIGINT) AS rank_e9,
           CAST(coalesce(s.dsir_fp, 0) AS BIGINT) AS dsir_fp,
           CAST(coalesce(s.dsir_fp, 0) + {_il("ranks.r")} AS BIGINT)
             AS combined_fp
    FROM documents d
    JOIN ranks ON ranks.host = lower(d.source) || '.example.com'
    LEFT JOIN s ON s.doc_id = d.doc_id
    ORDER BY combined_fp DESC, d.doc_id
    LIMIT {_RW_K}
    """
    )


@q("rank_weighted_select", _rank_weighted_sql())
def rank_weighted_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-weighted data selection (ROADMAP r9 candidate): the
    link-graph authority prior (host_link_rank's derivation at 2
    iterations — text/html.py::extract_links → text/urls.py::url_host →
    operators/graph.py::pagerank_int) combined with the DSIR content
    importance weight (text/selection.py, Xie et al. 2023) in LOG space:
    ``combined_fp = dsir_fp + ilog2_fp(rank_e9)`` — the fixed-point
    integer log of the prior × likelihood product, every term
    engine-exact. Top-k most-selectable docs (ties → lower id).

    Scale shape (100 TB): the rank table is domain-cardinality metadata
    pinned once and BROADCAST into the doc join; λ rides as one array
    literal into a zero-shuffle native fold (dsir_score); the host key
    is a free projection riding dsir_score's keep_cols seam (no id-keyed
    re-attach join); selection is TakeOrderedAndProject. Bodies never
    shuffle — the only corpus-scale exchange is the map-side-collapsing
    λ-training aggregate."""
    from pharmacodi_spark.barrier import stage_barrier
    from pharmacodi_spark.text.retrieval import ilog2_fp
    from pharmacodi_spark.text.selection import dsir_score, dsir_train_weights

    ranks = stage_barrier(
        _host_rank_df(spark, sf_dir, iterations=_RW_ITERS),
        name="rank_weighted_prior",
    )
    d = _t(spark, sf_dir, "documents")
    lam = dsir_train_weights(
        d, F.col("lang") == "en", dim=_DSIR_DIM, salt=_DSIR_SALT
    )
    scored = dsir_score(
        d, lam, dim=_DSIR_DIM, salt=_DSIR_SALT, keep_cols=("source",)
    )
    docs = scored.select(
        "doc_id",
        "dsir_fp",
        F.concat(F.lower(F.col("source")), F.lit(".example.com")).alias(
            "host"
        ),
    )
    j = docs.join(F.broadcast(ranks), "host")
    return (
        j.select(
            "doc_id",
            "host",
            "rank_e9",
            F.col("dsir_fp").cast("long").alias("dsir_fp"),
            (F.col("dsir_fp") + ilog2_fp(F.col("rank_e9")))
            .cast("long")
            .alias("combined_fp"),
        )
        .orderBy(F.desc("combined_fp"), F.asc("doc_id"))
        .limit(_RW_K)
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered benchmark decontamination (round 12): exact results,
# shuffle mass ∝ contamination instead of corpus grams
# ---------------------------------------------------------------------------


@q(
    "bloom_decontam",
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
def bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination through the Bloom-prefiltered path
    (text/cleaning.py::bloom_decontaminate_against) — the oracle is the
    SAME SQL as ``benchmark_decontam``, which is the point: the bitmap
    prefilter changes the physical plan, not one output row. The eval
    slice's distinct 13-gram hashes pack into a 2^20-bit bitmap
    (operators/bloom.py, k=3 xxhash64 probes, all codegen); train gram
    hashes failing any bit test die INSIDE the scan projection, so the
    per-(id, gram) distinct — the exact path's dominant exchange, all
    corpus grams — carries only true collisions plus the ~1% fp band;
    the broadcast semi-join referee then removes the false positives
    (false negatives are impossible). At 100 TB the bitmap is the
    persisted benchmark sidecar (save_bloom_bitmap): 1.25 MB per
    million eval grams, rebuilt only when the benchmark suite changes,
    while every corpus refresh re-screens at scan speed."""
    from pharmacodi_spark.text.cleaning import bloom_decontaminate_against

    d = _t(spark, sf_dir, "documents")
    train = d.where(F.col("doc_id") % 97 != 0)
    ev = d.where(F.col("doc_id") % 97 == 0)
    return bloom_decontaminate_against(train, ev)
