"""Substring-span and winnowing near-dup rows (text/winnow, text/dedup, text/clusters)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pharmacodi_spark.operators.partitioning import fan_out
from pharmacodi_spark.plans.queries import (
    q,
    _t,
    _SHINGLE_SQL,
    _minhash_sql_select,
    _sim_sql,
)


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


# ---------------------------------------------------------------------------
# Winnowing fingerprints (text/winnow.py — Schleimer/Wilkerson/Aiken 2003)
# ---------------------------------------------------------------------------

_WIN_K = 5  # k-gram length
_WIN_W = 4  # winnowing window (guarantee: shared runs >= w+k-1 tokens hit)

_WIN_FP_CTE = f"""
    t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
               AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(toks) - {_WIN_K - 1}),
               i -> CAST(('0x' || substr(md5(array_to_string(
                      toks[i:i+{_WIN_K - 1}], ' ')), 1, 15)) AS BIGINT))
               AS hs
      FROM t WHERE len(toks) >= {_WIN_K}
    ),
    st AS (
      SELECT doc_id, hs,
             unnest(generate_series(1, greatest(len(hs) - {_WIN_W - 1}, 1)))
               AS s
      FROM g
    ),
    sl AS (SELECT doc_id, s, hs[s : least(s + {_WIN_W - 1}, len(hs))] AS sl
           FROM st),
    mn AS (SELECT doc_id, s, sl, list_min(sl) AS m FROM sl),
    sel AS (
      SELECT doc_id,
             s - 1 + list_max(list_transform(generate_series(1, len(sl)),
               j -> CASE WHEN sl[j] = m THEN j ELSE 0 END)) AS pos,
             m AS h
      FROM mn
    ),
    fp AS (SELECT DISTINCT doc_id, pos, h FROM sel)
"""


@q(
    "winnowing_fingerprints",
    f"""
    WITH {_WIN_FP_CTE}
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_fp,
           CAST(bit_xor(h) AS BIGINT) AS fp_xor,
           CAST(sum(pos) AS BIGINT) AS pos_sum
    FROM fp GROUP BY doc_id
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing fingerprints (text/winnow.py::winnow_fingerprints):
    rightmost-minimal k-gram hash per w-window via one per-doc sliding
    ``min(struct(h, -pos))`` frame, deduplicated to the canonical
    fingerprint set. The driver row is the per-doc (count, xor, pos-sum)
    rollup — exact evidence of the WHOLE selected set without shipping
    every fingerprint through the compare. Scale shape: repartition-guarded
    hash scan, per-doc window (no corpus-global state), fingerprints are
    (id, pos, 8-byte h) at ~2/(w+1) gram density."""
    from pharmacodi_spark.text.winnow import winnow_fingerprints

    d = _t(spark, sf_dir, "documents")
    fp = winnow_fingerprints(d, k=_WIN_K, w=_WIN_W)
    return fp.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_fp"),
        F.expr("bit_xor(h)").cast("long").alias("fp_xor"),
        F.sum("pos").cast("long").alias("pos_sum"),
    )


@q(
    "winnow_near_pairs",
    f"""
    WITH {_WIN_FP_CTE},
    fph AS (SELECT DISTINCT doc_id, h FROM fp),
    nf AS (SELECT doc_id, count(*) AS n FROM fph GROUP BY 1),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS shared
      FROM fph a JOIN fph b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, p.shared,
           CAST((p.shared * 1000000) // least(na.n, nb.n) AS BIGINT)
             AS containment_ppm
    FROM p
    JOIN nf na ON na.doc_id = p.doc_a
    JOIN nf nb ON nb.doc_id = p.doc_b
    WHERE p.shared >= 2
    """,
)
def winnow_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional near-dup pairs from winnowing fingerprints
    (text/winnow.py::winnow_overlap_pairs): documents sharing >= 2
    fingerprint hashes, with the shared count and a containment score
    (shared / smaller fingerprint set, exact integer ppm) — catches a
    copied PARAGRAPH inside an otherwise unrelated document, which
    whole-doc MinHash Jaccard dilutes below threshold. Pair expansion is
    bucket-local by hash THROUGH the triangle-block hot-cell guard
    (max_cell_size=256 — corpus-wide boilerplate fingerprints become
    bounded parallel blocks); counts need no second join because each
    pair surfaces exactly once per shared hash.

    The fingerprint set fans out to three consumers (pair expansion + both
    containment sides) — barrier-pinned once so the md5/window subplan runs
    once instead of being lazily re-expanded per consumer (the r5 curation
    lesson; the (id, pos, 8-byte h) frame is the same working-set class as
    repeated_spans' window table)."""
    from pharmacodi_spark.barrier import stage_barrier
    from pharmacodi_spark.text.winnow import (
        winnow_fp_rows,
        winnow_fp_sets,
        winnow_overlap_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    # r12: pin the per-doc distinct HASH-SET frame instead of exploded
    # (id, pos, h) rows — the pair expansion gets already-unique (id, h)
    # rows from one explode (no distinct exchange) and the containment
    # denominators are a row-local ``size(hs)`` (was distinct + groupBy)
    fps = stage_barrier(
        winnow_fp_sets(d, k=_WIN_K, w=_WIN_W), name="winnow_fp"
    )
    fp = winnow_fp_rows(fps)
    pairs = winnow_overlap_pairs(
        fp, max_cell_size=256, hashes_distinct=True
    )
    nf = fps.select("doc_id", F.size("hs").alias("n"))
    na = nf.alias("na")
    nb = nf.alias("nb")
    return (
        pairs.join(na, F.col("doc_a") == F.col("na.doc_id"))
        .join(nb, F.col("doc_b") == F.col("nb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "shared",
            F.expr("(shared * 1000000) div least(na.n, nb.n)")
            .cast("long")
            .alias("containment_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental winnow dedup (text/winnow.py::winnow_incremental_flags)
# ---------------------------------------------------------------------------


@q(
    "incremental_winnow",
    f"""
    WITH {_WIN_FP_CTE},
    fph AS (SELECT DISTINCT doc_id, h FROM fp),
    n AS (SELECT doc_id, h FROM fph WHERE doc_id % 11 = 0),
    nf AS (SELECT doc_id, count(*) AS n_fp FROM n GROUP BY 1),
    idx AS (SELECT doc_id, h FROM fph WHERE doc_id % 11 <> 0),
    sh AS (
      SELECT n.doc_id AS nid, idx.doc_id AS cid, count(*) AS shared
      FROM n JOIN idx ON n.h = idx.h
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    best AS (
      SELECT nid, cid AS best_match, shared,
             row_number() OVER (PARTITION BY nid
                                ORDER BY shared DESC, cid) AS rn
      FROM sh
    )
    SELECT best.nid AS doc_id,
           CAST(nf.n_fp AS BIGINT) AS n_fp,
           best.best_match,
           CAST(best.shared AS BIGINT) AS shared,
           CAST((best.shared * 1000000) // nf.n_fp AS BIGINT)
             AS containment_ppm
    FROM best JOIN nf ON nf.doc_id = best.nid
    WHERE best.rn = 1
    """,
)
def incremental_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-vs-corpus positional dedup
    (text/winnow.py::winnow_incremental_flags): the arriving slice
    (doc_id % 11 = 0) fingerprints once, joins the corpus fingerprint
    index on the 8-byte hash, and reports each flagged doc's strongest
    corpus match with containment — passage-granular "already ingested"
    evidence the whole-doc minhash flags miss. Bodies never rejoin; the
    index side is exactly the table the streaming upsert maintains."""
    from pharmacodi_spark.text.winnow import (
        winnow_fp_rows,
        winnow_fp_sets,
        winnow_incremental_flags,
    )

    d = _t(spark, sf_dir, "documents")
    # r12: per-doc-distinct hash sets from the row-local winnow — both
    # sides arrive (id, h)-unique so the flags join skips its two dedup
    # exchanges; the %11 slice predicates push into the parquet scan.
    # winnow_fp_rows (not a bare explode) keeps the inferred size(hs)>0
    # filter from dragging the whole winnow chain below the repartition
    # exchange — the 19x single-task regression this round's bench caught
    fp = winnow_fp_rows(winnow_fp_sets(d, k=_WIN_K, w=_WIN_W))
    new_fp = fp.where(F.col("doc_id") % 11 == 0)
    idx_fp = fp.where(F.col("doc_id") % 11 != 0)
    return winnow_incremental_flags(
        new_fp, idx_fp, hashes_distinct=True
    )


# ---------------------------------------------------------------------------
# Near-dup detector agreement (minhash vs simhash vs winnowing)
# ---------------------------------------------------------------------------


#: SimHash width for the agreement referee — the PRODUCTION 60-bit
#: fingerprint (r12; was 16). The r11 root-cause measured the 16-bit
#: space saturating at 50k docs (hamming ≤ 3 pair mass grew 21.2× for
#: 10× docs — pigeonhole, not engine); at 60 bits collision mass tracks
#: true near-duplicates at any corpus size, so the headline agreement
#: metric now degrades linearly like its minhash/winnow siblings.
_AGREE_SIM_BITS = 60


def _detector_agreement_sql(bits: int = _AGREE_SIM_BITS) -> str:
    _SIM_SQL = _sim_sql(bits, "fp")
    shift = 1 << (bits - 8)
    return f"""
    WITH sig AS (
      SELECT doc_id,
             {_minhash_sql_select(4)}
      FROM ({_SHINGLE_SQL})
      GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band, h0 AS v1, h1 AS v2 FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band, h2 AS v1, h3 AS v2 FROM sig
    ),
    mh AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.v1 = b.v1 AND a.v2 = b.v2
      WHERE a.doc_id < b.doc_id
    ),
    sim AS ({_SIM_SQL}),
    sb AS (SELECT doc_id, fp, fp // {shift} AS bucket FROM sim),
    sh AS (
      SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
      FROM sb a JOIN sb b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id
      WHERE bit_count(xor(a.fp, b2.fp)) <= 3
    ),
    {_WIN_FP_CTE},
    fph AS (SELECT DISTINCT doc_id, h FROM fp),
    wn AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM fph a JOIN fph b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    tagged AS (
      SELECT doc_a, doc_b, 1 AS m, 0 AS s, 0 AS w FROM mh
      UNION ALL
      SELECT doc_a, doc_b, 0, 1, 0 FROM sh
      UNION ALL
      SELECT doc_a, doc_b, 0, 0, 1 FROM wn
    ),
    per_pair AS (
      SELECT doc_a, doc_b, max(m) AS in_minhash, max(s) AS in_simhash,
             max(w) AS in_winnow
      FROM tagged GROUP BY 1, 2
    )
    SELECT CAST(in_minhash AS BIGINT) AS in_minhash,
           CAST(in_simhash AS BIGINT) AS in_simhash,
           CAST(in_winnow AS BIGINT) AS in_winnow,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM per_pair GROUP BY 1, 2, 3
    """


@q("detector_agreement", _detector_agreement_sql())
def detector_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referee table over the three near-dup families: which candidate
    pairs does each detector surface, and where do they disagree — the
    tuning evidence for picking thresholds before a full-corpus dedup run
    (a pair flagged by winnowing but neither hash family is usually a
    lifted PASSAGE; simhash-only pairs are usually topical twins). Runs
    the three in-engine pipelines (LSH banding, simhash prefix buckets,
    winnow hash buckets — each through its own guard) and reduces every
    pair to membership bits; the final rollup is 8-row metadata. The
    simhash branch runs the PRODUCTION 60-bit fingerprint (r12,
    ``_AGREE_SIM_BITS``): the 16-bit fixture width saturated its 2^16
    space at 50k docs (r11 root-cause: 21.2× pair mass for 10× docs, by
    pigeonhole), so the headline metric was drifting away from what the
    production detector would report; at 60 bits all three branches'
    pair mass tracks true near-duplication. The 16-bit path stays
    exercised by the standalone ``simhash_near_pairs`` fixture query.

    Shared-stage plan (VERDICT r7 item 5): ONE scan tokenizes the corpus
    and the token frame is stage-barrier-pinned; all three detectors
    derive from the pin (minhash shingles/md5, simhash token hashes,
    winnow gram hashes), so the documents scan + split run once instead
    of three times — previously the heaviest query in the suite
    re-tokenized the same corpus per detector. The winnow branch also
    skips the standalone query's containment join-backs (membership bits
    need pairs only). The tiny simhash fingerprint frame is pinned too
    (the triangle-guard self-join consumes it twice)."""
    from pharmacodi_spark.barrier import stage_barrier
    from pharmacodi_spark.text.dedup import (
        md5_band_pairs,
        md5_signature,
        md5_simhash,
        simhash_near_pairs as _snp,
    )
    from pharmacodi_spark.text.winnow import (
        winnow_fp_rows,
        winnow_fp_sets,
        winnow_overlap_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    toks = stage_barrier(
        fan_out(d, "doc_id").select(
            "doc_id", F.split("text", " ").alias("__tk")
        ),
        name="det_toks",
    )
    mh = md5_band_pairs(md5_signature(toks, tokens_col="__tk")).select(
        "doc_a", "doc_b", F.lit(1).alias("m"), F.lit(0).alias("s"),
        F.lit(0).alias("w"),
    )
    sim = stage_barrier(
        md5_simhash(toks, tokens_col="__tk", bits=_AGREE_SIM_BITS),
        name="det_sim",
    )
    sh = _snp(
        sim, max_hamming=3, prefix_bits=8, bits=_AGREE_SIM_BITS,
        max_cell_size=256,
    ).select(
        "doc_a", "doc_b", F.lit(0).alias("m"), F.lit(1).alias("s"),
        F.lit(0).alias("w"),
    )
    fp = winnow_fp_rows(
        winnow_fp_sets(toks, k=_WIN_K, w=_WIN_W, tokens_col="__tk")
    )
    wn = winnow_overlap_pairs(
        fp, max_cell_size=256, hashes_distinct=True
    ).select(
        "doc_a", "doc_b", F.lit(0).alias("m"), F.lit(0).alias("s"),
        F.lit(1).alias("w"),
    )
    per_pair = (
        mh.unionByName(sh)
        .unionByName(wn)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max("m").alias("in_minhash"),
            F.max("s").alias("in_simhash"),
            F.max("w").alias("in_winnow"),
        )
    )
    return per_pair.groupBy("in_minhash", "in_simhash", "in_winnow").agg(
        F.count("*").cast("long").alias("n_pairs")
    ).select(
        F.col("in_minhash").cast("long").alias("in_minhash"),
        F.col("in_simhash").cast("long").alias("in_simhash"),
        F.col("in_winnow").cast("long").alias("in_winnow"),
        "n_pairs",
    )


# ---------------------------------------------------------------------------
# Winnow dedup E2E: fingerprints -> pairs -> CC -> keeper drop-list
# ---------------------------------------------------------------------------


@q(
    "winnow_dedup_pipeline",
    f"""
    WITH RECURSIVE {_WIN_FP_CTE},
    fph AS (SELECT DISTINCT doc_id, h FROM fp),
    p AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM fph a JOIN fph b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    edges AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
    reach(node, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
    ),
    comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node)
    SELECT node AS doc_id, component, component = node AS keep FROM comp
    """,
)
def winnow_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-granular dedup E2E — the fuzzy_dedup_pipeline shape at
    winnowing granularity: MOSS fingerprints → shared-hash pairs
    (≥ 2 shared, through the triangle hot-cell guard) → iterative
    connected components → min-id keeper per cluster
    (text/clusters.py::near_dup_droplist). Catches chains of documents
    linked by lifted PASSAGES that whole-doc Jaccard dilutes; the DuckDB
    oracle re-derives every stage including the transitive closure. The
    fingerprint set is barrier-pinned before pair expansion (the
    winnow_near_pairs plan lesson)."""
    from pharmacodi_spark.barrier import stage_barrier
    from pharmacodi_spark.text.clusters import near_dup_droplist
    from pharmacodi_spark.text.winnow import (
        winnow_fp_rows,
        winnow_fp_sets,
        winnow_overlap_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    fp = winnow_fp_rows(
        stage_barrier(
            winnow_fp_sets(d, k=_WIN_K, w=_WIN_W), name="winnow_fp"
        )
    )
    pairs = winnow_overlap_pairs(
        fp, max_cell_size=256, hashes_distinct=True
    ).select("doc_a", "doc_b")
    return near_dup_droplist(
        d.select("doc_id"), pairs, edges_canonical=True
    )
