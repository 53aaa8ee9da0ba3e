"""Third batch of north-star extension queries (round 6, late): targeted
data SELECTION — the stage after cleaning where a pipeline decides which
surviving documents to actually train on — plus training-side observability
(tokenizer fertility, padding efficiency, dedup attribution).

Same cross-engine determinism strategy as plans/extensions2.py: md5-derived
integer hashes, fixed-point integer log2 (retrieval.ilog2_fp), exact
integer-ratio arithmetic, floor rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window

from pharmacodi_spark.functions.scalar import local_df
from pyspark.sql import functions as F

from pharmacodi_spark.operators.partitioning import fan_out
from pharmacodi_spark.plans.queries import (
    q,
    _rnd,
    _t,
    _SHINGLE_SQL,
    _minhash_sql_select,
    _sim_sql,
)

_FP = 1 << 10  # 10 fractional bits, shared with retrieval.FP_BITS


def _il(x: str) -> str:
    """DuckDB twin of retrieval.ilog2_fp (10 fractional bits): exponent via
    length(bin(x))-1, linear mantissa via shifted division by 2^e.
    Valid for x < 2^53 (mantissa·1024 must fit int64); use :func:`_il_g`
    for full-domain inputs like 60-bit hash draws."""
    e = f"(length(bin({x})) - 1)"
    return (
        f"(({e} * {_FP}) + "
        f"((({x} - (CAST(1 AS BIGINT) << {e})) * {_FP}) >> {e}))"
    )


def _il_g(x: str) -> str:
    """Full-int64-domain DuckDB twin of retrieval.ilog2_fp: the same
    shift-first overflow guard as the Spark column version (shift the
    mantissa excess out BEFORE scaling when e > frac_bits — exact, since
    floor(m·2^s/2^e) = floor(m/2^(e−s)))."""
    e = f"(length(bin({x})) - 1)"
    m = f"({x} - (CAST(1 AS BIGINT) << {e}))"
    frac = (
        f"(CASE WHEN {e} <= 10 THEN ({m} << (10 - {e})) "
        f"ELSE ({m} >> ({e} - 10)) END)"
    )
    return f"(({e} * {_FP}) + {frac})"


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


# ---------------------------------------------------------------------------
# Training-side observability (text/analysis.py, text/packing.py,
# text/dedup.py) + the exact percentile gate (text/selection.py)
# ---------------------------------------------------------------------------

_BPE_PAT = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@q(
    "tokenizer_fertility",
    f"""
    WITH p AS (
      SELECT source,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS w,
             len(regexp_extract_all(text, '{_BPE_PAT}')) AS t,
             length(text) AS c
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(w) AS BIGINT) AS n_words,
           CAST(sum(t) AS BIGINT) AS n_tokens,
           CAST(sum(c) AS BIGINT) AS n_chars,
           CAST((sum(t) * 100) // greatest(sum(w), 1) AS BIGINT)
             AS tokens_per_100_words,
           CAST((sum(c) * 100) // greatest(sum(t), 1) AS BIGINT)
             AS chars_per_100_tokens
    FROM p GROUP BY 1
    """,
)
def tokenizer_fertility_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per source (text/analysis.py::tokenizer_fertility):
    subword-ish tokens per 100 whitespace words and chars per 100 tokens,
    integer fixed-point — the tokenizer-evaluation table that catches
    sources whose scripts/markup fragment the tokenizer. Per-row native
    counting (no explode), one domain-cardinality aggregate."""
    from pharmacodi_spark.text.analysis import tokenizer_fertility

    d = _t(spark, sf_dir, "documents")
    return tokenizer_fertility(d)


@q(
    "length_buckets",
    """
    WITH p AS (
      SELECT CASE WHEN n <= 1 THEN CAST(1 AS BIGINT)
                  ELSE (CAST(1 AS BIGINT) << length(bin(n - 1))) END
               AS bucket_len,
             n
      FROM (SELECT CAST(len(list_filter(string_split(text, ' '),
                                        x -> x <> '')) AS BIGINT) AS n
            FROM documents)
    )
    SELECT bucket_len,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(count(*) * bucket_len - sum(n) AS BIGINT) AS pad_tokens,
           CAST((100 * sum(n)) // (count(*) * bucket_len) AS BIGINT)
             AS efficiency_pct
    FROM p GROUP BY 1
    """,
)
def length_buckets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-efficiency audit (text/packing.py::length_buckets): docs
    binned to next-power-of-two token-length buckets (exact integer
    ``1 << length(bin(n−1))``), per-bucket padding waste and integer
    efficiency percent — the dynamic-batching planning table. Per-row
    native binning, one ~40-row aggregate."""
    from pharmacodi_spark.text.packing import length_buckets

    d = _t(spark, sf_dir, "documents")
    return length_buckets(d)


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
    "dedup_attribution",
    """
    WITH k AS (
      SELECT source, doc_id,
             md5(array_to_string(
               list_filter(string_split(text, ' '), x -> x <> '')[1:20],
               ' ')) AS h
      FROM documents
    ),
    f AS (
      SELECT source,
             (row_number() OVER (PARTITION BY h ORDER BY doc_id) = 1)
               AS keep
      FROM k
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS rows_in,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
             AS rows_kept,
           CAST(((count(*) - sum(CASE WHEN keep THEN 1 ELSE 0 END))
                 * 1000000) // count(*) AS BIGINT) AS dup_ppm
    FROM f GROUP BY 1
    """,
)
def dedup_attribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup attribution (text/dedup.py::dedup_attribution):
    the funnel row per origin — rows_in/rows_kept/dup_ppm under the
    min-id keeper, here keyed on the 20-token leading-passage prefix
    (news-style title dedup). Only (source, id, 32-byte hash) shuffles;
    the rollup aggregate is domain-cardinality."""
    from pharmacodi_spark.text.dedup import dedup_attribution

    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    prefix = F.array_join(F.slice(toks, 1, 20), " ")
    return dedup_attribution(d, key=prefix)


# ---------------------------------------------------------------------------
# Source signatures (text/corpus.py) + embedding prototypicality
# (text/selection.py) — corpus understanding and pruning scores
# ---------------------------------------------------------------------------


@q(
    "source_signature_terms",
    f"""
    WITH tok AS (
      SELECT source,
             unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS term
      FROM documents
    ),
    tf AS (SELECT source, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    sfq AS (SELECT term, count(*) AS sf FROM tf GROUP BY 1),
    ng AS (SELECT count(DISTINCT source) AS s FROM documents),
    scored AS (
      SELECT tf.source, tf.term, CAST(tf.tf AS BIGINT) AS tf,
             CAST(tf.tf * ({_il("ng.s")} - {_il("sfq.sf")}) AS BIGINT)
               AS ctfidf_fp
      FROM tf JOIN sfq USING (term), ng
    )
    SELECT source, term, tf, ctfidf_fp, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY source
                 ORDER BY ctfidf_fp DESC, term) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def source_signature_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """c-TF-IDF signature terms per source (text/corpus.py::
    source_signature_terms, BERTopic shape): top-5 most distinctive terms
    per origin under tf·(il(S)−il(sf)) fixed-point scoring — terms in
    every source score exactly 0. Token stream collapses map-side to
    (source, term) counts; ranking runs on the vocab-scale table."""
    from pharmacodi_spark.text.corpus import source_signature_terms

    d = _t(spark, sf_dir, "documents")
    return source_signature_terms(d, k=5)


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
# Corpus-level source overlap (text/dedup.py::source_overlap_minhash)
# ---------------------------------------------------------------------------

_SO_K = 32
# one md5 per shingle; seeds h_i = (g1 + i*g2) mod 2^32 (Kirsch-Mitzenmacher)
_SO_DIGESTS = (
    ",\n             CAST(('0x' || substr(m, 1, 8)) AS BIGINT) AS g1"
    ",\n             CAST(('0x' || substr(m, 9, 8)) AS BIGINT) AS g2"
)
_SO_MINS = ",\n             ".join(
    f"min((g1 + {i} * g2) % 4294967296) AS h{i}" for i in range(_SO_K)
)
_SO_MATCH = " + ".join(
    f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(_SO_K)
)


@q(
    "source_overlap_minhash",
    f"""
    WITH sh AS (
      SELECT source, array_to_string(toks[i:i+4], ' ') AS sh
      FROM (SELECT source, toks,
                   unnest(generate_series(1, greatest(len(toks)-4, 1))) AS i
            FROM (SELECT source, string_split(text, ' ') AS toks
                  FROM documents))
    ),
    d AS (
      SELECT source{_SO_DIGESTS}
      FROM (SELECT source, md5('so:' || sh) AS m FROM sh)
    ),
    sig AS (
      SELECT source,
             {_SO_MINS}
      FROM d GROUP BY source
    )
    SELECT a.source AS src_a, b.source AS src_b,
           CAST({_SO_MATCH} AS BIGINT) AS matching_seeds,
           CAST((({_SO_MATCH}) * 1000000) // {_SO_K} AS BIGINT)
             AS est_jaccard_ppm
    FROM sig a JOIN sig b ON a.source < b.source
    """,
)
def source_overlap_minhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair overlap matrix (text/dedup.py::source_overlap_minhash):
    MinHash-estimated Jaccard between the shingle sets of every origin
    pair — the mirror detector. One fact-scale stage (shingle explode →
    map-side-collapsing k-min aggregate keyed by source); the pair matrix
    runs on the groups × k metadata table."""
    from pharmacodi_spark.text.dedup import source_overlap_minhash

    d = _t(spark, sf_dir, "documents")
    return source_overlap_minhash(d, num_hashes=_SO_K)


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
    return token_budget_report(d, budget_frac=0.5)


# ---------------------------------------------------------------------------
# Language confusion audit (text/analysis.py::lang_confusion)
# ---------------------------------------------------------------------------

_LC_SW = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"],
    "es": ["el", "la", "de", "y", "en", "que", "los", "un", "por", "con"],
    "de": ["der", "die", "das", "und", "in", "den", "von", "zu", "mit", "ist"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "une"],
}
_LC_HITS = ",\n             ".join(
    f"sum(CASE WHEN token IN ({', '.join(repr(s) for s in sws)}) "
    f"THEN 1 ELSE 0 END) AS h_{lang}"
    for lang, sws in _LC_SW.items()
)


@q(
    "lang_confusion",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS token
      FROM documents
    ),
    h AS (
      SELECT doc_id, lang,
             {_LC_HITS}
      FROM tok GROUP BY doc_id, lang
    ),
    p AS (
      SELECT lang,
             CASE WHEN greatest(h_en, h_es, h_de, h_fr) = 0 THEN 'unknown'
                  WHEN h_en >= h_es AND h_en >= h_de AND h_en >= h_fr
                    THEN 'en'
                  WHEN h_es >= h_de AND h_es >= h_fr THEN 'es'
                  WHEN h_de >= h_fr THEN 'de'
                  ELSE 'fr' END AS pred_lang
      FROM h
    ),
    r AS (
      SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
      FROM p GROUP BY 1, 2
    )
    SELECT lang, pred_lang, n_docs,
           CAST((n_docs * 1000000) //
                sum(n_docs) OVER (PARTITION BY lang) AS BIGINT) AS share_ppm
    FROM r
    """,
)
def lang_confusion_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Claimed-vs-detected language confusion (text/analysis.py::
    lang_confusion): the stopword detector's argmax (dict-order
    tie-break, zero hits → 'unknown') rolled into per-claimed-label ppm
    shares — mislabeled-crawl audit. Detector is explode-free; the
    rollup and share window run on label-cardinality² rows. The fixture's
    'zh' rows (no detector coverage) surface as an 'unknown' block, not
    silent pollution."""
    from pharmacodi_spark.text.analysis import lang_confusion

    d = _t(spark, sf_dir, "documents")
    return lang_confusion(d)


# ---------------------------------------------------------------------------
# Dedup observability: cluster-size distribution + threshold-tuning curve
# ---------------------------------------------------------------------------


@q(
    "dup_cluster_histogram",
    """
    WITH RECURSIVE edges0 AS (
      SELECT d.doc_id AS u, d.doc_id + 1 AS v
      FROM documents d JOIN documents e ON e.doc_id = d.doc_id + 1
      WHERE (d.doc_id + 1) % 5 != 0
        AND CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
                 AS BIGINT) % 4 != 0
    ),
    edges AS (SELECT u, v FROM edges0 UNION SELECT v, u FROM edges0),
    reach(node, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
    ),
    comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node),
    sizes AS (
      SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY 1
    )
    SELECT cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY 1
    """,
)
def dup_cluster_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size distribution (text/clusters.py::
    dup_cluster_histogram): CC over the deterministic fixture graph (the
    near_dup_droplist chain fixture) rolled into (cluster_size,
    n_clusters, n_docs) — separates "many mirrored pairs" from "one
    boilerplate storm" and sizes the triangle-block cap. n_docs sums to
    the corpus (singletons are size-1 rows). The oracle re-derives the
    histogram through the recursive-CTE closure."""
    from pharmacodi_spark.text.clusters import dup_cluster_histogram

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
    return dup_cluster_histogram(ids, pairs, edges_canonical=True)


@q(
    "neardup_threshold_histogram",
    """
    WITH un AS (
      SELECT vec_id,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000 + 0.5)
                  AS BIGINT) AS qv,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings WHERE vec_id < 200
    ),
    dots AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             CAST(sum(a.qv * b.qv) AS BIGINT) AS dot
      FROM un a JOIN un b ON a.pos = b.pos AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    ),
    norms AS (SELECT vec_id, CAST(sum(qv * qv) AS BIGINT) AS n2
              FROM un GROUP BY vec_id)
    SELECT CAST(floor((CAST(d.dot AS DOUBLE)
                       / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)))
                      * 20) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM dots d
    JOIN norms na ON d.vec_a = na.vec_id
    JOIN norms nb ON d.vec_b = nb.vec_id
    GROUP BY 1
    """,
)
def neardup_threshold_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup threshold-tuning curve: the FULL pairwise cosine
    histogram (0.05-wide bins, exact integer dot/norm math) over the
    bounded brute-force referee window — read the valley between the
    near-dup mode and the background mode to pick the dedup threshold,
    instead of guessing 0.3. Same all-pairs referee scope as
    embedding_near_dup (vec_id < 200); the scale path bins LSH/IVF
    candidate pairs the same way."""
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
        .groupBy(F.floor(cosine * 20).cast("long").alias("bin"))
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# Corpus snapshot diff (text/incremental.py::corpus_diff)
# ---------------------------------------------------------------------------


@q(
    "corpus_diff",
    """
    WITH old AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 11 != 3
    ),
    new AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 13 = 2 THEN text || ' v2' ELSE text END)
               AS h
      FROM documents WHERE doc_id % 17 != 5
    )
    SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
           CASE WHEN old.h IS NULL THEN 'added'
                WHEN new.h IS NULL THEN 'removed'
                WHEN old.h = new.h THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM old FULL OUTER JOIN new USING (doc_id)
    """,
)
def corpus_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-over-crawl snapshot diff (text/incremental.py::corpus_diff):
    added/removed/changed/unchanged per id from two fixture-derived
    snapshot views (old misses doc_id%11=3; new rewrites doc_id%13=2 and
    drops doc_id%17=5). Both sides collapse to (id, 32-byte hash) at the
    scan; one id-keyed full-outer fact⋈fact join; bodies never shuffle.
    Feed added ∪ changed to the ingest gauntlet, retire removed from the
    index sidecars."""
    from pharmacodi_spark.text.incremental import corpus_diff

    d = _t(spark, sf_dir, "documents")
    old = d.where(F.col("doc_id") % 11 != 3)
    new = d.where(F.col("doc_id") % 17 != 5).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 13 == 2, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return corpus_diff(old, new)


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
# JL random projection (text/similarity.py::jl_project)
# ---------------------------------------------------------------------------

_JL_OUT = 8
_JL_IN = 64


def _jl_sql() -> str:
    from pharmacodi_spark.text.similarity import jl_sign_matrix

    signs = jl_sign_matrix(_JL_IN, _JL_OUT)
    cols = ",\n           ".join(
        "CAST(list_sum(list_transform(generate_series(1, %d), i -> "
        "CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000 + 0.5) AS BIGINT)"
        " * ([%s])[i])) AS BIGINT) AS p%d"
        % (_JL_IN, ", ".join(str(s) for s in row), j)
        for j, row in enumerate(signs)
    )
    return f"SELECT vec_id,\n           {cols}\n    FROM embeddings"


@q("jl_projection", None)
def jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL ±1 random projection (text/similarity.py::jl_project, Achlioptas
    2003): 64-dim float embeddings → 8 integer components, distances
    preserved within (1±ε) — the cheap front-end for LSH bucketing /
    clustering / dedup blocking. Sign matrix is md5-parity deterministic
    and rides as constant-folded literals; the projection is a zero-
    shuffle per-row fold."""
    from pharmacodi_spark.text.similarity import jl_project, jl_sign_matrix

    e = _t(spark, sf_dir, "embeddings")
    return jl_project(e, jl_sign_matrix(_JL_IN, _JL_OUT))


# register the oracle lazily (the SQL embeds the same sign literals the
# Spark plan uses — generated once from the shared md5-parity matrix)
from pharmacodi_spark.plans.queries import QUERIES as _Q  # noqa: E402

_Q["jl_projection"] = (_Q["jl_projection"][0], _jl_sql())


# ---------------------------------------------------------------------------
# Capstone E2E: curation cascade + DSIR selection (six stages, one oracle)
# ---------------------------------------------------------------------------

# the curated-survivor SQL is the curation_pipeline oracle verbatim,
# nested as a CTE (DuckDB allows WITH inside a CTE body) — one source of
# truth for the five curation stages, extended by the DSIR chain
_CURATION_SQL = _Q["curation_pipeline"][1]


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
# Corpus data card (text/corpus.py::corpus_report)
# ---------------------------------------------------------------------------


@q(
    "corpus_report",
    """
    WITH t AS (
      SELECT doc_id, source, lang, text,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS nt
      FROM documents
    ),
    a AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS n_tokens,
             CAST(sum(length(text)) AS BIGINT) AS n_chars,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(count(DISTINCT md5(text)) AS BIGINT) AS nd,
             CAST(sum(CASE WHEN nt = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ne
      FROM t
    )
    SELECT metric, value FROM (
      SELECT 'n_docs' AS metric, n_docs AS value FROM a
      UNION ALL SELECT 'n_tokens', n_tokens FROM a
      UNION ALL SELECT 'n_chars', n_chars FROM a
      UNION ALL SELECT 'n_sources', n_sources FROM a
      UNION ALL SELECT 'n_langs', n_langs FROM a
      UNION ALL SELECT 'exact_dup_ppm',
        ((n_docs - nd) * 1000000) // greatest(n_docs, 1) FROM a
      UNION ALL SELECT 'empty_doc_ppm',
        (ne * 1000000) // greatest(n_docs, 1) FROM a
      UNION ALL SELECT 'mean_tokens_x100',
        (n_tokens * 100) // greatest(n_docs, 1) FROM a
    )
    """,
)
def corpus_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data card (text/corpus.py::corpus_report): one (metric, value)
    header block — sizes, origin/language breadth, duplicate and empty
    rates, ×100 mean length — in ONE corpus pass (multi-distinct via
    Spark's expand rewrite), melted with stack. Integer metrics only."""
    from pharmacodi_spark.text.corpus import corpus_report

    d = _t(spark, sf_dir, "documents")
    return corpus_report(d)


# ---------------------------------------------------------------------------
# Hard-negative mining (contrastive-training data prep)
# ---------------------------------------------------------------------------


@q(
    "hard_negatives",
    """
    WITH un AS (
      SELECT vec_id,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000 + 0.5)
                  AS BIGINT) AS qv,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings WHERE vec_id < 200
    ),
    dots AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             CAST(sum(a.qv * b.qv) AS BIGINT) AS dot
      FROM un a JOIN un b ON a.pos = b.pos AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    ),
    norms AS (SELECT vec_id, CAST(sum(qv * qv) AS BIGINT) AS n2
              FROM un GROUP BY vec_id),
    cos AS (
      SELECT d.vec_a, d.vec_b,
             CAST(d.dot AS DOUBLE)
               / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS c
      FROM dots d
      JOIN norms na ON d.vec_a = na.vec_id
      JOIN norms nb ON d.vec_b = nb.vec_id
    ),
    sym AS (
      SELECT vec_a AS anchor, vec_b AS cand, c FROM cos
      UNION ALL
      SELECT vec_b AS anchor, vec_a AS cand, c FROM cos
    ),
    ranked AS (
      SELECT anchor, cand,
             floor(c * 10000 + 0.5) / 10000 AS cosine,
             row_number() OVER (PARTITION BY anchor
                                ORDER BY c DESC, cand) AS rank
      FROM sym WHERE c < 0.9
    )
    SELECT anchor, cand, cosine, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the 3
    most-similar candidates BELOW the near-dup threshold (0.9) — similar
    enough to be informative negatives, distinct enough not to be hidden
    positives (the e5/GTR-style mining rule). Bounded brute referee window
    (vec_id < 200) like embedding_near_dup; the scale path mines from
    ANN candidate lists and anti-joins the near-dup pair set. Exact
    integer dot/norm math; rank windows partition per anchor."""
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
    c = F.col("dot").cast("double") / F.sqrt(
        F.col("na.n2").cast("double") * F.col("nb.n2").cast("double")
    )
    cos = (
        dots.join(F.broadcast(na), F.col("vec_a") == F.col("na.vec_id"))
        .join(F.broadcast(nb), F.col("vec_b") == F.col("nb.vec_id"))
        .select("vec_a", "vec_b", c.alias("c"))
    )
    sym = cos.select(
        F.col("vec_a").alias("anchor"), F.col("vec_b").alias("cand"), "c"
    ).unionByName(
        cos.select(
            F.col("vec_b").alias("anchor"), F.col("vec_a").alias("cand"), "c"
        )
    )
    w = Window.partitionBy("anchor").orderBy(F.desc("c"), F.asc("cand"))
    return (
        sym.where(F.col("c") < 0.9)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "anchor",
            "cand",
            _rnd(F.col("c"), 4).alias("cosine"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# Collocation detection (text/corpus.py::detect_phrases / apply_phrases)
# ---------------------------------------------------------------------------


@q(
    "phrase_detection",
    """
    WITH t AS (
      SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    pairs AS (
      SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
               i -> {'a': toks[i], 'b': toks[i+1]})) AS p
      FROM t WHERE len(toks) >= 2
    ),
    big AS (SELECT p.a AS a, p.b AS b, CAST(count(*) AS BIGINT) AS c_ab
            FROM pairs GROUP BY 1, 2),
    uni AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c FROM
        (SELECT unnest(toks) AS w FROM t) GROUP BY 1
    ),
    n_tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni)
    SELECT big.a, big.b, big.c_ab,
           ua.c AS c_a, ub.c AS c_b,
           CAST(((big.c_ab - 5) * n_tot.n * 100) // (ua.c * ub.c) AS BIGINT)
             AS score_fp,
           ((big.c_ab - 5) * n_tot.n * 100 >= 100 * ua.c * ub.c)
             AS is_phrase
    FROM big
    JOIN uni ua ON big.a = ua.w
    JOIN uni ub ON big.b = ub.w
    CROSS JOIN n_tot
    WHERE big.c_ab >= 5
    """,
)
def phrase_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation detection (text/corpus.py::detect_phrases, Mikolov
    phrases): adjacent-pair score (c_ab−δ)·N/(c_a·c_b) as an integer
    cross-multiplied gate (δ = min_count = 5, threshold 1.0) — the merge
    list for phrase-aware tokenization. Counts collapse map-side; the
    score join runs on Zipf-bounded tables; N is a 1-row broadcast."""
    from pharmacodi_spark.text.corpus import detect_phrases

    d = _t(spark, sf_dir, "documents")
    return detect_phrases(d, min_count=5, threshold_fp=100)


# ---------------------------------------------------------------------------
# Source boilerplate stripping (text/cleaning.py::strip_source_boilerplate)
# ---------------------------------------------------------------------------


@q(
    "source_boilerplate_strip",
    """
    WITH t AS (
      SELECT doc_id, source, text,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    b AS (
      SELECT doc_id, source, text, toks,
             array_to_string(toks[1:1], ' ') AS pfx
      FROM t
    ),
    c AS (SELECT source, pfx, CAST(count(*) AS BIGINT) AS c
          FROM b GROUP BY 1, 2),
    top AS (
      SELECT source, pfx AS bp FROM (
        SELECT source, pfx, c,
               row_number() OVER (PARTITION BY source
                                  ORDER BY c DESC, pfx) AS rn,
               sum(c) OVER (PARTITION BY source) AS n
        FROM c
      ) WHERE rn = 1 AND c * 1000000 >= 100000 * n
    )
    SELECT b.doc_id, b.source,
           CASE WHEN top.bp IS NOT NULL AND b.pfx = top.bp
                THEN array_to_string(toks[2:len(toks)], ' ')
                ELSE b.text END AS stripped_text,
           (top.bp IS NOT NULL AND b.pfx = top.bp) AS boilerplate_stripped
    FROM b LEFT JOIN top USING (source)
    """,
)
def source_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate prefix removal (text/cleaning.py::
    strip_source_boilerplate, prefix=1 token, share ≥ 10%): the dominant
    opening prefix of an origin is its site template — strip it from the
    matching documents. Prefixes are scan-projection slices (no explode);
    one (source, prefix) count collapses map-side; the winning-prefix
    table is domain-cardinality and broadcasts back. On the fixture,
    sources split both ways across the 10% gate (8–16% dominance)."""
    from pharmacodi_spark.text.cleaning import strip_source_boilerplate

    d = _t(spark, sf_dir, "documents")
    return strip_source_boilerplate(
        d, prefix_tokens=1, min_share_ppm=100_000
    ).select("doc_id", "source", "stripped_text", "boilerplate_stripped")


# ---------------------------------------------------------------------------
# Quality-aware dedup keeper (text/dedup.py::exact_dedup(keeper_order=...))
# ---------------------------------------------------------------------------


@q(
    "exact_dedup_quality_keeper",
    """
    WITH k AS (
      SELECT doc_id, source, n_chars,
             md5(array_to_string(
               list_filter(string_split(text, ' '), x -> x <> '')[1:20],
               ' ')) AS h
      FROM documents
    ),
    r AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY h
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM k
    )
    SELECT doc_id, source, n_chars FROM r WHERE rn = 1
    """,
)
def exact_dedup_quality_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup keeper (text/dedup.py::exact_dedup with
    keeper_order): among documents sharing a 20-token leading-passage
    key, keep the LONGEST (ties → lower id) instead of the first-seen —
    the keeper policy real pipelines prefer (the longest duplicate
    usually carries the full article; the short ones are truncations).
    Same hash-keyed shuffle as the min-id path, different window order."""
    from pharmacodi_spark.text.dedup import exact_dedup

    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    keyed = d.withColumn("__pk", F.array_join(F.slice(toks, 1, 20), " "))
    out = exact_dedup(
        keyed,
        content_col="__pk",
        keeper_order=[F.desc("n_chars"), F.col("doc_id")],
    )
    return out.select("doc_id", "source", "n_chars")


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


# ---------------------------------------------------------------------------
# Vocabulary coverage, cross-doc diversity, contamination attribution
# ---------------------------------------------------------------------------


@q(
    "vocab_coverage_curve",
    r"""
    WITH toks AS (
      SELECT unnest(string_split_regex(text, '\s+')) AS token FROM documents
    ),
    counts AS (SELECT token, count(*) AS freq FROM toks
               WHERE token <> '' GROUP BY token),
    hist AS (SELECT freq, CAST(count(*) AS BIGINT) AS n_terms,
                    CAST(freq * count(*) AS BIGINT) AS mass
             FROM counts GROUP BY freq),
    cum AS (SELECT freq, n_terms,
                   CAST(sum(n_terms) OVER w AS BIGINT) AS cum_terms,
                   CAST(sum(mass) OVER w AS BIGINT) AS cum_mass
            FROM hist
            WINDOW w AS (ORDER BY freq DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    t AS (SELECT CAST(sum(mass) AS BIGINT) AS total FROM hist)
    SELECT freq, n_terms, cum_terms,
           CAST(floor(CAST(cum_mass AS DOUBLE) * 1000000.0
                      / CAST(total AS DOUBLE)) AS BIGINT) AS coverage_ppm
    FROM cum, t
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass coverage by frequency rank (text/corpus.py::
    vocab_coverage): the vocabulary-sizing curve — keep every term with
    count ≥ freq and you hold cum_terms vocab entries covering coverage_ppm
    of the running text. The ordered cumulative window runs on the
    frequency HISTOGRAM (one row per distinct count — O(√tokens) by Zipf),
    not the term table, so the oracle's global window is metadata-scale in
    the engine; the corpus itself sees one map-side-combined count."""
    from pharmacodi_spark.text.corpus import vocab_coverage

    d = _t(spark, sf_dir, "documents")
    return vocab_coverage(fan_out(d, "doc_id"))


@q(
    "ngram_diversity",
    r"""
    WITH toks AS (SELECT source, string_split_regex(text, '\s+') AS t
                  FROM documents),
    idx AS (SELECT source, t,
                   unnest(generate_series(1, greatest(len(t) - 1, 1))) AS i
            FROM toks),
    grams AS (SELECT source, array_to_string(t[i:i+1], ' ') AS ngram FROM idx),
    per AS (SELECT source, ngram, count(*) AS cnt
            FROM grams GROUP BY source, ngram)
    SELECT source,
           CAST(count(*) AS BIGINT) AS distinct_ngrams,
           CAST(sum(cnt) AS BIGINT) AS total_ngrams,
           CAST(floor(CAST(count(*) AS DOUBLE) * 1000000.0
                      / CAST(sum(cnt) AS DOUBLE)) AS BIGINT) AS diversity_ppm
    FROM per GROUP BY source
    """,
)
def ngram_diversity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source bigram type/token ratio (text/corpus.py::
    ngram_diversity): the ACROSS-document template-stamping detector
    (Gopher's gates are within-doc; a mirror-heavy or boilerplate source
    repeats the same n-grams corpus-wide and scores a low diversity_ppm).
    Grams collapse to md5 before the shuffle — the oracle re-derives by
    gram string, identical grouping (same contract as repeated_spans)."""
    from pharmacodi_spark.text.corpus import ngram_diversity

    d = _t(spark, sf_dir, "documents")
    return ngram_diversity(fan_out(d, "doc_id"), n=2)


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
# Per-doc token entropy gate (text/analysis.py::token_entropy)
# ---------------------------------------------------------------------------

_ENT_MIN = 2 << 10  # gate: per-token entropy >= 2.0 bits


@q(
    "token_entropy_gate",
    f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS token
      FROM documents
    ),
    c AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2),
    d AS (
      SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_distinct,
             sum(c * {_il("c")}) AS s
      FROM c GROUP BY 1
    ),
    e AS (
      SELECT doc_id, n_tokens, n_distinct,
             (n_tokens * {_il("n_tokens")} - s) AS entropy_fp
      FROM d
    )
    SELECT doc.doc_id,
           CAST(coalesce(e.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(e.n_distinct, 0) AS BIGINT) AS n_distinct,
           CAST(coalesce(e.entropy_fp, 0) AS BIGINT) AS entropy_fp,
           (coalesce(e.n_tokens, 0) > 0 AND
            coalesce(e.entropy_fp, 0) >= {_ENT_MIN} * coalesce(e.n_tokens, 0))
             AS keep
    FROM documents doc LEFT JOIN e ON doc.doc_id = e.doc_id
    """,
)
def token_entropy_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Shannon entropy gate
    (text/analysis.py::token_entropy): ``entropy_fp = N·il(N) − Σ c·il(c)``
    in 10-frac-bit fixed point, gate = integer cross-multiplication
    ``entropy_fp ≥ 2.0·2^10·N`` (per-token entropy ≥ 2 bits — flags
    keyboard-mash/template-loop docs the n-gram repetition gates miss).
    Scale shape: (id, token) count with map-side partials → per-doc
    aggregate; `il` applied post-agg; no corpus-global state."""
    from pharmacodi_spark.text.analysis import token_entropy

    d = _t(spark, sf_dir, "documents")
    return token_entropy(d, min_bits_fp=_ENT_MIN)


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
        fp, min_shared=2, max_cell_size=256, hashes_distinct=True
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
# Phrase blocklist gate (text/cleaning.py::phrase_blocklist_hits)
# ---------------------------------------------------------------------------

_BLOCK_PHRASES = ["table part", "fast merge", "lorem ipsum dolor"]


@q(
    "phrase_blocklist_gate",
    "\n    SELECT doc_id,\n"
    + "           CAST("
    + " + ".join(
        f"(length(text) - length(replace(text, '{p}', ''))) // {len(p)}"
        for p in _BLOCK_PHRASES
    )
    + " AS BIGINT) AS n_hits,\n"
    + "           CAST("
    + " + ".join(
        f"(CASE WHEN length(text) <> length(replace(text, '{p}', '')) "
        "THEN 1 ELSE 0 END)"
        for p in _BLOCK_PHRASES
    )
    + " AS BIGINT) AS n_phrases_hit,\n"
    + "           ("
    + " + ".join(
        f"(length(text) - length(replace(text, '{p}', ''))) // {len(p)}"
        for p in _BLOCK_PHRASES
    )
    + ") = 0 AS keep\n"
    + "    FROM documents\n",
)
def phrase_blocklist_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal-phrase blocklist gate
    (text/cleaning.py::phrase_blocklist_hits): non-overlapping occurrence
    counts via the replace-diff identity — no regex dialect surface, one
    zero-shuffle projection over the scan, fully codegen'd. The
    synthetic-contamination filter ("as an AI language model",
    cookie-banner templates) of a curation cascade."""
    from pharmacodi_spark.text.cleaning import phrase_blocklist_hits

    d = _t(spark, sf_dir, "documents")
    return phrase_blocklist_hits(d, _BLOCK_PHRASES)


@q(
    "phrase_blocklist_ac",
    # the ORACLE is the replace-diff form: proving the automaton against it
    # on the shared phrase list is the parity contract (VERDICT r6 item 3)
    "\n    SELECT doc_id,\n"
    + "           CAST("
    + " + ".join(
        f"(length(text) - length(replace(text, '{p}', ''))) // {len(p)}"
        for p in _BLOCK_PHRASES
    )
    + " AS BIGINT) AS n_hits,\n"
    + "           CAST("
    + " + ".join(
        f"(CASE WHEN length(text) <> length(replace(text, '{p}', '')) "
        "THEN 1 ELSE 0 END)"
        for p in _BLOCK_PHRASES
    )
    + " AS BIGINT) AS n_phrases_hit,\n"
    + "           ("
    + " + ".join(
        f"(length(text) - length(replace(text, '{p}', ''))) // {len(p)}"
        for p in _BLOCK_PHRASES
    )
    + ") = 0 AS keep\n"
    + "    FROM documents\n",
)
def phrase_blocklist_ac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aho–Corasick blocklist gate
    (text/cleaning.py::phrase_blocklist_hits_ac): the 10^3–10^5-phrase
    scale path — ONE broadcast automaton pass per document inside a
    zero-shuffle ``mapInPandas``, per-doc cost O(len + matches) regardless
    of list size. Count semantics are exactly the replace-diff form's
    (per-phrase non-overlapping, leftmost-greedy), so this row's oracle IS
    the replace-diff SQL on the shared small list; the 10k-phrase case is
    pytest-pinned against str.count (tests/test_phrase_blocklist.py)."""
    from pharmacodi_spark.text.cleaning import phrase_blocklist_hits_ac

    d = _t(spark, sf_dir, "documents")
    return phrase_blocklist_hits_ac(d, _BLOCK_PHRASES)


# ---------------------------------------------------------------------------
# Stupid-backoff trigram LM (text/corpus.py::stupid_backoff_scores)
# ---------------------------------------------------------------------------

_SB_A = -1354  # floor(log2(0.4) * 2^10)


@q(
    "stupid_backoff_lm",
    f"""
    WITH tk AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
               AS toks
      FROM documents
    ),
    uni AS (
      SELECT token AS w, count(*) AS c1 FROM (
        SELECT unnest(toks) AS token FROM tk WHERE doc_id % 7 <> 0
      ) GROUP BY 1
    ),
    bi AS (
      SELECT b, count(*) AS c2 FROM (
        SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                 i -> array_to_string(toks[i:i+1], ' '))) AS b
        FROM tk WHERE doc_id % 7 <> 0 AND len(toks) >= 2
      ) GROUP BY 1
    ),
    tri AS (
      SELECT t, count(*) AS c3 FROM (
        SELECT unnest(list_transform(generate_series(1, len(toks) - 2),
                 i -> array_to_string(toks[i:i+2], ' '))) AS t
        FROM tk WHERE doc_id % 7 <> 0 AND len(toks) >= 3
      ) GROUP BY 1
    ),
    tot AS (SELECT sum(c1) AS n_total FROM uni),
    occ AS (
      SELECT doc_id, g.t, g.ctx, g.suf, g.w2, g.w3 FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks) - 2),
                 i -> {{'t': array_to_string(toks[i:i+2], ' '),
                       'ctx': array_to_string(toks[i:i+1], ' '),
                       'suf': array_to_string(toks[i+1:i+2], ' '),
                       'w2': toks[i+1], 'w3': toks[i+2]}})) AS g
        FROM tk WHERE doc_id % 7 = 0 AND len(toks) >= 3
      )
    ),
    dt AS (SELECT DISTINCT t, ctx, suf, w2, w3 FROM occ),
    sc AS (
      SELECT dt.t,
             CASE
               WHEN tri.c3 IS NOT NULL
                 THEN {_il("tri.c3")} - {_il("bc.c2")}
               WHEN bs.c2 IS NOT NULL
                 THEN {_SB_A} + {_il("bs.c2")} - {_il("u2.c1")}
               ELSE {2 * _SB_A} + {_il("coalesce(u3.c1, 0) + 1")}
                    - {_il("tot.n_total")}
             END AS score_fp,
             CASE WHEN tri.c3 IS NOT NULL THEN 0
                  WHEN bs.c2 IS NOT NULL THEN 1 ELSE 2 END AS bo
      FROM dt
      LEFT JOIN tri ON tri.t = dt.t
      LEFT JOIN bi bc ON bc.b = dt.ctx
      LEFT JOIN bi bs ON bs.b = dt.suf
      LEFT JOIN uni u2 ON u2.w = dt.w2
      LEFT JOIN uni u3 ON u3.w = dt.w3
      CROSS JOIN tot
    ),
    per AS (
      SELECT occ.doc_id,
             count(*) AS n_trigrams,
             sum(sc.score_fp) AS sb_fp,
             sum(CASE WHEN sc.bo = 1 THEN 1 ELSE 0 END) AS n_backoff1,
             sum(CASE WHEN sc.bo = 2 THEN 1 ELSE 0 END) AS n_backoff2
      FROM occ JOIN sc ON sc.t = occ.t GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(coalesce(per.n_trigrams, 0) AS BIGINT) AS n_trigrams,
           CAST(coalesce(per.sb_fp, 0) AS BIGINT) AS sb_fp,
           CAST(coalesce(per.n_backoff1, 0) AS BIGINT) AS n_backoff1,
           CAST(coalesce(per.n_backoff2, 0) AS BIGINT) AS n_backoff2
    FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
    WHERE d.doc_id % 7 = 0
    """,
)
def stupid_backoff_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff trigram LM perplexity gate
    (text/corpus.py::stupid_backoff_scores, Brants et al. 2007): held-out
    slice (doc_id % 7 = 0) scored against counts from the rest — unseen
    trigrams back off through α·bigram and α²·unigram with the integer
    fixed-point α = log2(0.4)·2^10. Scoring runs per DISTINCT trigram
    (vocabulary-scale), not per occurrence; the backoff-depth counters
    expose out-of-domain mass."""
    from pharmacodi_spark.text.corpus import stupid_backoff_scores

    d = _t(spark, sf_dir, "documents")
    ref = d.where(F.col("doc_id") % 7 != 0)
    sc = d.where(F.col("doc_id") % 7 == 0)
    return stupid_backoff_scores(ref, sc, alpha_fp=_SB_A)


# ---------------------------------------------------------------------------
# Kneser–Ney bigram LM (text/corpus.py::kneser_ney_scores)
# ---------------------------------------------------------------------------


@q(
    "kneser_ney_lm",
    f"""
    WITH tk AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
               AS toks
      FROM documents
    ),
    bi AS (
      SELECT w1, w2, count(*) AS c12 FROM (
        SELECT g.w1 AS w1, g.w2 AS w2 FROM (
          SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                   i -> {{'w1': toks[i], 'w2': toks[i+1]}})) AS g
          FROM tk WHERE doc_id % 7 <> 0 AND len(toks) >= 2
        )
      ) GROUP BY 1, 2
    ),
    ctx AS (SELECT w1, sum(c12) AS c1, count(*) AS n1p FROM bi GROUP BY 1),
    cont AS (SELECT w2, count(*) AS ncont FROM bi GROUP BY 1),
    tt AS (SELECT count(*) AS t_types FROM bi),
    occ AS (
      SELECT doc_id, g.w1 AS w1, g.w2 AS w2 FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks) - 1),
                 i -> {{'w1': toks[i], 'w2': toks[i+1]}})) AS g
        FROM tk WHERE doc_id % 7 = 0 AND len(toks) >= 2
      )
    ),
    dt AS (SELECT DISTINCT w1, w2 FROM occ),
    sc AS (
      SELECT dt.w1, dt.w2,
             CASE
               WHEN bi.c12 IS NOT NULL
                 THEN {_il("4 * bi.c12 - 3")} - {_il("4 * ctx.c1")}
               WHEN ctx.c1 IS NOT NULL
                 THEN {_il("3 * ctx.n1p")} - {_il("4 * ctx.c1")}
                      + {_il("coalesce(cont.ncont, 0) + 1")}
                      - {_il("tt.t_types + 1")}
               ELSE {_il("coalesce(cont.ncont, 0) + 1")}
                    - {_il("tt.t_types + 1")}
             END AS score_fp,
             CASE WHEN bi.c12 IS NOT NULL THEN 0
                  WHEN ctx.c1 IS NOT NULL THEN 1 ELSE 2 END AS bo
      FROM dt
      LEFT JOIN bi ON bi.w1 = dt.w1 AND bi.w2 = dt.w2
      LEFT JOIN ctx ON ctx.w1 = dt.w1
      LEFT JOIN cont ON cont.w2 = dt.w2
      CROSS JOIN tt
    ),
    per AS (
      SELECT occ.doc_id,
             count(*) AS n_bigrams,
             sum(sc.score_fp) AS kn_fp,
             sum(CASE WHEN sc.bo = 1 THEN 1 ELSE 0 END) AS n_backoff,
             sum(CASE WHEN sc.bo = 2 THEN 1 ELSE 0 END) AS n_unseen_ctx
      FROM occ JOIN sc ON sc.w1 = occ.w1 AND sc.w2 = occ.w2 GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(coalesce(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(coalesce(per.kn_fp, 0) AS BIGINT) AS kn_fp,
           CAST(coalesce(per.n_backoff, 0) AS BIGINT) AS n_backoff,
           CAST(coalesce(per.n_unseen_ctx, 0) AS BIGINT) AS n_unseen_ctx
    FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
    WHERE d.doc_id % 7 = 0
    """,
)
def kneser_ney_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser–Ney bigram LM perplexity gate
    (text/corpus.py::kneser_ney_scores, Kneser & Ney 1995): held-out slice
    (doc_id % 7 = 0) scored against the rest with absolute discounting
    D = 3/4 and continuation-count backoff — the smoothing step up from
    stupid_backoff_lm (VERDICT r6 item 4), same barrier-pinned topology
    plus one continuation-count rollup per order. All-integer 10-frac-bit
    fixed point; backoff-depth counters expose out-of-domain mass."""
    from pharmacodi_spark.text.corpus import kneser_ney_scores

    d = _t(spark, sf_dir, "documents")
    ref = d.where(F.col("doc_id") % 7 != 0)
    sc = d.where(F.col("doc_id") % 7 == 0)
    return kneser_ney_scores(ref, sc)


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
# Shard write-validation manifest (text/packing.py::shard_manifest)
# ---------------------------------------------------------------------------


@q(
    "shard_manifest",
    """
    WITH k AS (
      SELECT doc_id, n_chars,
             CAST(('0x' || substr(md5('shuf' || CAST(doc_id AS VARCHAR)), 1,
                   15)) AS BIGINT) AS shuffle_key
      FROM documents
    ),
    c AS (
      SELECT doc_id, shuffle_key, n_chars,
             coalesce(sum(n_chars) OVER (ORDER BY shuffle_key, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS byte_start
      FROM k
    )
    SELECT CAST(byte_start // 16384 AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_bytes,
           CAST(min(byte_start) AS BIGINT) AS first_byte,
           CAST(bit_xor(doc_id) AS BIGINT) AS id_xor,
           CAST(bit_xor(shuffle_key) AS BIGINT) AS key_xor
    FROM c GROUP BY 1
    """,
)
def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-validation manifest over the epoch-shuffle shard layout
    (text/packing.py::shard_manifest on shuffle_shards' output): per-shard
    counts, byte mass, and order-insensitive 60-bit XOR checksums — the
    table a reader diffs to detect missing/truncated/double-delivered
    shards without re-reading bodies. Same prefix-sum topology as
    training_shuffle_shards plus ONE metadata-scale aggregation."""
    from pharmacodi_spark.text.packing import shard_manifest, shuffle_shards

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return shard_manifest(shuffle_shards(d, shard_bytes=16384))


# ---------------------------------------------------------------------------
# k-NN label-consistency eval (text/similarity.py::knn_label_eval)
# ---------------------------------------------------------------------------


@q(
    "knn_label_eval",
    """
    WITH un AS (
      SELECT vec_id, label,
             CAST(floor((CAST(unnest(embedding) AS DOUBLE) * 10000) + 0.5)
                  AS BIGINT) AS qv,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ),
    pairs AS (
      SELECT q.vec_id AS qid, any_value(q.label) AS qlabel,
             c.vec_id AS cid, any_value(c.label) AS clabel,
             CAST(sum(q.qv * c.qv) AS BIGINT) AS dot
      FROM un q JOIN un c ON q.pos = c.pos AND q.vec_id <> c.vec_id
      WHERE q.vec_id % 23 = 0
      GROUP BY q.vec_id, c.vec_id
    ),
    topk AS (
      SELECT qid, qlabel, clabel,
             row_number() OVER (PARTITION BY qid
                                ORDER BY dot DESC, cid) AS rn
      FROM pairs
    ),
    votes AS (
      SELECT qid, qlabel, clabel, count(*) AS c
      FROM topk WHERE rn <= 10 GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT qid, qlabel, clabel AS pred,
             row_number() OVER (PARTITION BY qid
                                ORDER BY c DESC, clabel) AS pr
      FROM votes
    )
    SELECT qlabel AS label,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN pred = qlabel THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           CAST((sum(CASE WHEN pred = qlabel THEN 1 ELSE 0 END) * 1000000)
                // count(*) AS BIGINT) AS acc_ppm
    FROM pred WHERE pr = 1 GROUP BY 1
    """,
)
def knn_label_eval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out k-NN label consistency over the embedding column
    (text/similarity.py::knn_label_eval): bounded query sample broadcasts
    against the corpus scan (the corpus never shuffles for pair
    generation), integer-quantized dots, per-query ranking windows on the
    sampled stream, majority vote with deterministic tie-breaks. The
    go/no-go eval before an embedding column is trusted for semantic
    dedup or ANN retrieval."""
    from pharmacodi_spark.text.similarity import knn_label_eval

    e = _t(spark, sf_dir, "embeddings")
    return knn_label_eval(e, k=10, query_mod=23)


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
        new_fp, idx_fp, min_shared=2, hashes_distinct=True
    )


# ---------------------------------------------------------------------------
# Soft dedup loss weights (text/dedup.py::soft_dedup_weights)
# ---------------------------------------------------------------------------


@q(
    "soft_dedup_weights",
    """
    WITH c AS (SELECT doc_id, md5(text) AS h FROM documents),
    s AS (SELECT doc_id, count(*) OVER (PARTITION BY h) AS m FROM c)
    SELECT doc_id,
           CAST(m AS BIGINT) AS cluster_size,
           CAST(1000000 // m AS BIGINT) AS weight_ppm
    FROM s
    """,
)
def soft_dedup_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-cluster-size loss weights
    (text/dedup.py::soft_dedup_weights): the soft alternative to hard
    dedup — duplicate content keeps constant total gradient mass instead
    of being dropped. One hash projection + one COUNT OVER partitioned by
    the content hash; bodies never shuffle."""
    from pharmacodi_spark.text.dedup import soft_dedup_weights

    d = _t(spark, sf_dir, "documents")
    return soft_dedup_weights(d)


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
        fp, min_shared=2, max_cell_size=256, hashes_distinct=True
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
        fp, min_shared=2, max_cell_size=256, hashes_distinct=True
    ).select("doc_a", "doc_b")
    return near_dup_droplist(
        d.select("doc_id"), pairs, edges_canonical=True
    )


# ---------------------------------------------------------------------------
# URL canonicalization + domain gate (text/urls.py)
# ---------------------------------------------------------------------------
# The documents table has no URL column, so both engines build the same
# deterministic noisy URL (case noise, www, port, userinfo-free, tracking
# params, unsorted params, fragment on every 3rd row) from (source, doc_id).
# The DuckDB twin then states the EXPECTED canonical form in closed form —
# an independent oracle of the contract, not a mirror of the string surgery.

_URL_EXPR = (
    "concat('HTTPS://', CASE WHEN doc_id % 5 = 0 THEN 'CDN.' ELSE 'WWW.' END, "
    "source, '.Example.COM:443/p/', doc_id, "
    "'?utm_source=x&b=', doc_id % 7, '&a=1', "
    "CASE WHEN doc_id % 3 = 0 THEN '#frag' ELSE '' END)"
)


@q(
    "url_canonicalize",
    f"""
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 0 THEN 'cdn.' ELSE '' END
             || lower(source) || '.example.com' AS host,
           'https://' || CASE WHEN doc_id % 5 = 0 THEN 'cdn.' ELSE '' END
             || lower(source) || '.example.com/p/' || doc_id
             || '?a=1&b=' || (doc_id % 7) AS canon_url
    FROM documents
    """,
)
def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (text/urls.py::parse_urls): scheme/host
    lowercased, www + port + fragment + utm_*/fbclid-class tracking params
    dropped, surviving params SORTED, trailing slash stripped — the
    dedup-key preparation stage of a web-corpus pipeline (after this,
    exact URL dedup is exact_dedup on canon_url). One zero-shuffle
    projection; the oracle states the expected canonical form in closed
    form rather than re-running the surgery."""
    from pharmacodi_spark.text.urls import parse_urls

    d = _t(spark, sf_dir, "documents")
    with_url = d.select("doc_id", "source", F.expr(_URL_EXPR).alias("url"))
    return parse_urls(with_url).select("doc_id", "host", "canon_url")


@q(
    "url_domain_gate",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 0 THEN 'cdn.' ELSE '' END
             || lower(source) || '.example.com' AS host,
           CASE WHEN source IN ('src3', 'src7')
                THEN lower(source) || '.example.com'
                ELSE NULL END AS matched_domain,
           source NOT IN ('src3', 'src7') AS keep
    FROM documents
    """,
)
def url_domain_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist gate with subdomain-suffix semantics
    (text/urls.py::domain_gate): block rules at two granularities — the
    hosts src3/src7.example.com, which must ALSO block the cdn.-prefixed
    subdomain variants every 5th row carries (suffix semantics) — longest
    matching suffix reported. Hosts
    explode to bounded dot-suffix sets; the blocklist broadcasts; bodies
    never shuffle. The oracle states the expected verdicts in closed
    form."""
    from pharmacodi_spark.text.urls import domain_gate

    d = _t(spark, sf_dir, "documents")
    with_url = d.select("doc_id", "source", F.expr(_URL_EXPR).alias("url"))
    blocked = local_df(
        spark, [("src3.example.com",), ("src7.example.com",)], ["domain"]
    )
    return domain_gate(with_url, blocked)


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


@q(
    "domain_quality_rollup",
    """
    WITH hosts AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN 'cdn.' ELSE '' END
               || lower(source) || '.example.com' AS host,
             (source IN ('src5') OR (source = 'src7' AND doc_id % 2 = 0))
               AS failed
      FROM documents
    ),
    stats AS (
      SELECT host, count(*) AS n,
             sum(CASE WHEN failed THEN 1 ELSE 0 END) AS nf
      FROM hosts GROUP BY 1
    ),
    blocked AS (
      SELECT host, (nf * 1000000) // n AS host_fail_ppm
      FROM stats WHERE n >= 3 AND nf * 1000000 >= 400000 * n
    )
    SELECT h.doc_id, h.host,
           CAST(b.host_fail_ppm AS BIGINT) AS host_fail_ppm,
           b.host_fail_ppm IS NULL AS keep
    FROM hosts h LEFT JOIN blocked b ON b.host = h.host
    """,
)
def domain_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-domain drop (text/urls.py::domain_quality_gate, the C4-style
    second-order gate): per-doc gate verdicts aggregate up to the host
    (one map-side-collapsing aggregation), hosts with >= 3 docs failing at
    >= 40% (integer cross-multiplied) are dropped entirely, and the
    offender table broadcasts back against the scan. Here the per-doc
    verdict is a deterministic fixture (src5 always fails, src7 fails on
    even ids) so both engines derive identical domain verdicts."""
    from pharmacodi_spark.text.urls import domain_quality_gate

    d = _t(spark, sf_dir, "documents")
    with_url = d.select(
        "doc_id",
        "source",
        F.expr(_URL_EXPR).alias("url"),
        (
            (F.col("source") == "src5")
            | ((F.col("source") == "src7") & (F.col("doc_id") % 2 == 0))
        ).alias("failed"),
    )
    return domain_quality_gate(
        with_url, "failed", min_docs=3, max_fail_ppm=400_000
    )


_URL_PSL_EXPR = (
    "concat('http://', CASE WHEN doc_id % 5 = 0 THEN 'CDN.' ELSE '' END, "
    "source, CASE WHEN doc_id % 7 = 0 THEN '.Zone.CK' "
    "WHEN doc_id % 7 = 1 THEN '.WWW.CK' "
    "WHEN doc_id % 3 = 0 THEN '.Example.CO.UK' "
    "ELSE '.Example.COM' END, '/p')"
)


@q(
    "registered_domain",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 0 THEN 'cdn.' ELSE '' END
             || lower(source)
             || CASE WHEN doc_id % 7 = 0 THEN '.zone.ck'
                     WHEN doc_id % 7 = 1 THEN '.www.ck'
                     WHEN doc_id % 3 = 0 THEN '.example.co.uk'
                     ELSE '.example.com' END AS host,
           CASE WHEN doc_id % 7 = 0 THEN 'zone.ck'
                WHEN doc_id % 7 = 1 THEN 'ck'
                WHEN doc_id % 3 = 0 THEN 'co.uk'
                ELSE 'com' END AS public_suffix,
           CASE WHEN doc_id % 7 = 0 THEN lower(source) || '.zone.ck'
                WHEN doc_id % 7 = 1 THEN 'www.ck'
                WHEN doc_id % 3 = 0 THEN 'example.co.uk'
                ELSE 'example.com' END AS registered_domain
    FROM documents
    """,
)
def registered_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Public-suffix-aware registrable-domain extraction
    (text/urls.py::registered_domains) under the REAL Mozilla-PSL grammar
    (r8): plain suffixes, a wildcard rule (``*.ck`` — every ``.zone.ck``
    host's public suffix is ``zone.ck``), an exception rule (``!www.ck``
    — prevails over the wildcard: ``.www.ck`` hosts register as
    ``www.ck`` under suffix ``ck``), plus comment/blank lines the parser
    must drop. Bounded position-carrying host-suffix explode, broadcast
    PSL left join, one map-side-collapsing per-id aggregation with
    exception-first precedence, slice arithmetic for the registrable
    label. The oracle states the expected suffix/domain per rule kind in
    closed form."""
    from pharmacodi_spark.text.urls import registered_domains

    d = _t(spark, sf_dir, "documents")
    with_url = d.select("doc_id", "source", F.expr(_URL_PSL_EXPR).alias("url"))
    psl = local_df(
        spark,
        [
            ("// ICANN DOMAINS",),
            ("com",),
            ("uk",),
            ("co.uk",),
            ("",),
            ("*.ck",),
            ("!www.ck",),
        ],
        ["suffix"],
    )
    return registered_domains(with_url, psl)


# ---------------------------------------------------------------------------
# HTML -> main-content extraction (text/html.py) — the pre-gate text stage
# ---------------------------------------------------------------------------
# documents has no HTML column, so the Spark side wraps each doc's text in
# a deterministic noisy page: head with title/style/script (script body
# contains '<' and a fake '<p>' to prove element scrubbing runs BEFORE
# block splitting), a link-only nav bar, an HTML comment, the text as the
# main <p> block (every 4th doc with '&nbsp;' entities instead of spaces,
# the rest wrapped in an inline <b>), and a link-only footer. The DuckDB
# twin states the EXPECTED extraction in closed form — the original text,
# whitespace-normalized — an independent oracle of the whole contract
# (scrub, block split, entity decode, link-density boilerplate drop).

_HTML_PAGE_EXPR = r"""
concat(
  '<!DOCTYPE html><html><head><title>Doc ', doc_id, '</title>',
  '<style>.nav{color:red}</style>',
  '<script type="text/javascript">var x = 1 < 2; ',
  'if (x) { alert("<p>not content</p>"); }</script></head><body>',
  '<div class="nav"><a href="/">Home</a> <a href="/about">About</a> ',
  '<a href="/contact">Contact</a></div>',
  '<!-- crawl: ', source, ' -->',
  '<p>',
  CASE WHEN doc_id % 4 = 0 THEN replace(text, ' ', '&nbsp;')
       ELSE concat('<b>', text, '</b>') END,
  '</p>',
  '<div class="footer"><a href="/tos">Terms</a> <a href="/p">Privacy</a> ',
  '<a href="/i">Imprint</a></div></body></html>'
)
"""


@q(
    "html_extract",
    r"""
    SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS main_text
    FROM documents
    """,
)
def html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Main-content extraction (text/html.py::extract_main_text): strip
    script/style/title + comments, split at block-level tags, decode
    entities, drop short / link-dense boilerplate blocks (nav + footer
    here), keep the prose. Pure native expressions — one zero-shuffle
    projection over the scan, the page never leaves its partition; the
    html.parser mapInPandas seam (extract_main_text_parsed) is the
    attribute-safe sibling for malformed real-world pages (pytest-gated +
    equivalence-tested). Oracle: the page is synthesized FROM the clean
    text, so the expected output is the text itself (closed form)."""
    from pharmacodi_spark.text.html import extract_main_text

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        extract_main_text(F.expr(_HTML_PAGE_EXPR)).alias("main_text"),
    )


# ---------------------------------------------------------------------------
# Trigram Kneser–Ney LM (text/corpus.py::kneser_ney3_scores)
# ---------------------------------------------------------------------------

_KN3_P2 = (
    "CASE WHEN d2.cc23 IS NOT NULL THEN "
    + _il("4 * d2.cc23 - 3") + " - " + _il("4 * ctx2.cc2")
    + " WHEN ctx2.cc2 IS NOT NULL THEN "
    + _il("3 * ctx2.nn2") + " - " + _il("4 * ctx2.cc2")
    + " + " + _il("coalesce(cont.ncont, 0) + 1")
    + " - " + _il("tt.t_types + 1")
    + " ELSE "
    + _il("coalesce(cont.ncont, 0) + 1")
    + " - " + _il("tt.t_types + 1")
    + " END"
)


@q(
    "kneser_ney3_lm",
    f"""
    WITH tk AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
               AS toks
      FROM documents
    ),
    tri AS (
      SELECT w1, w2, w3, count(*) AS c123 FROM (
        SELECT g.w1 AS w1, g.w2 AS w2, g.w3 AS w3 FROM (
          SELECT unnest(list_transform(generate_series(1, len(toks) - 2),
                   i -> {{'w1': toks[i], 'w2': toks[i+1],
                          'w3': toks[i+2]}})) AS g
          FROM tk WHERE doc_id % 7 <> 0 AND len(toks) >= 3
        )
      ) GROUP BY 1, 2, 3
    ),
    ctx12 AS (SELECT w1, w2, sum(c123) AS c12, count(*) AS n1p12
              FROM tri GROUP BY 1, 2),
    d2 AS (SELECT w2, w3, count(*) AS cc23 FROM tri GROUP BY 1, 2),
    ctx2 AS (SELECT w2, sum(cc23) AS cc2, count(*) AS nn2
             FROM d2 GROUP BY 1),
    cont AS (SELECT w3, count(*) AS ncont FROM d2 GROUP BY 1),
    tt AS (SELECT count(*) AS t_types FROM d2),
    occ AS (
      SELECT doc_id, g.w1 AS w1, g.w2 AS w2, g.w3 AS w3 FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks) - 2),
                 i -> {{'w1': toks[i], 'w2': toks[i+1],
                        'w3': toks[i+2]}})) AS g
        FROM tk WHERE doc_id % 7 = 0 AND len(toks) >= 3
      )
    ),
    dt AS (SELECT DISTINCT w1, w2, w3 FROM occ),
    sc AS (
      SELECT dt.w1, dt.w2, dt.w3,
             CASE
               WHEN tri.c123 IS NOT NULL
                 THEN {_il("4 * tri.c123 - 3")} - {_il("4 * ctx12.c12")}
               WHEN ctx12.c12 IS NOT NULL
                 THEN {_il("3 * ctx12.n1p12")} - {_il("4 * ctx12.c12")}
                      + ({_KN3_P2})
               ELSE ({_KN3_P2})
             END AS score_fp,
             CASE WHEN tri.c123 IS NOT NULL THEN 0
                  WHEN d2.cc23 IS NOT NULL THEN 1
                  WHEN ctx2.cc2 IS NOT NULL THEN 2 ELSE 3 END AS bo
      FROM dt
      LEFT JOIN tri ON tri.w1 = dt.w1 AND tri.w2 = dt.w2 AND tri.w3 = dt.w3
      LEFT JOIN ctx12 ON ctx12.w1 = dt.w1 AND ctx12.w2 = dt.w2
      LEFT JOIN d2 ON d2.w2 = dt.w2 AND d2.w3 = dt.w3
      LEFT JOIN ctx2 ON ctx2.w2 = dt.w2
      LEFT JOIN cont ON cont.w3 = dt.w3
      CROSS JOIN tt
    ),
    per AS (
      SELECT occ.doc_id,
             count(*) AS n_trigrams,
             sum(sc.score_fp) AS kn3_fp,
             sum(CASE WHEN sc.bo = 1 THEN 1 ELSE 0 END) AS n_backoff1,
             sum(CASE WHEN sc.bo = 2 THEN 1 ELSE 0 END) AS n_backoff2,
             sum(CASE WHEN sc.bo = 3 THEN 1 ELSE 0 END) AS n_unseen
      FROM occ JOIN sc ON sc.w1 = occ.w1 AND sc.w2 = occ.w2
                      AND sc.w3 = occ.w3
      GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(coalesce(per.n_trigrams, 0) AS BIGINT) AS n_trigrams,
           CAST(coalesce(per.kn3_fp, 0) AS BIGINT) AS kn3_fp,
           CAST(coalesce(per.n_backoff1, 0) AS BIGINT) AS n_backoff1,
           CAST(coalesce(per.n_backoff2, 0) AS BIGINT) AS n_backoff2,
           CAST(coalesce(per.n_unseen, 0) AS BIGINT) AS n_unseen
    FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
    WHERE d.doc_id % 7 = 0
    """,
)
def kneser_ney3_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram Kneser–Ney LM perplexity gate
    (text/corpus.py::kneser_ney3_scores, r8 — the standard filter-LM
    order): held-out slice (doc_id % 7 = 0) scored against the rest with
    D = 3/4 absolute discounting, the MIDDLE order running bigram-KN on
    the trigram TYPE table (continuation counts one order up) and the
    lowest order the continuation unigram — a pure product of rationals
    in 10-frac-bit integer fixed point (interpolated KN would need
    int128; the backoff form does not). Same barrier-pinned count-table
    topology as kneser_ney_lm, one order up; backoff-depth counters
    expose which order absorbed the mass."""
    from pharmacodi_spark.text.corpus import kneser_ney3_scores

    d = _t(spark, sf_dir, "documents")
    ref = d.where(F.col("doc_id") % 7 != 0)
    sc = d.where(F.col("doc_id") % 7 == 0)
    return kneser_ney3_scores(ref, sc)


# ---------------------------------------------------------------------------
# Fasttext-shaped hashed lang-ID head -> confusion rollup
# (text/analysis.py::hashed_lang_id + lang_confusion(scored=...))
# ---------------------------------------------------------------------------

_LID_LANGS = ["de", "en", "es", "fr", "zh"]


@q(
    "hashed_lang_confusion",
    f"""
    WITH tokidx AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('lid' || token), 1, 15)) AS BIGINT)
               % 4096 AS idx
      FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                              x -> x <> '')) AS token
            FROM documents)
    ),
    cand AS (SELECT unnest({_LID_LANGS!r}) AS cand),
    scores AS (
      SELECT doc_id, cand, sum(w) AS score
      FROM (
        SELECT doc_id, cand,
               CAST(('0x' || substr(md5('w' || cand || ':'
                                        || CAST(idx AS VARCHAR)), 1, 15))
                    AS BIGINT) % 2001 - 1000 AS w
        FROM tokidx CROSS JOIN cand
      ) GROUP BY 1, 2
    ),
    pred AS (
      SELECT doc_id, cand AS pred_lang
      FROM (
        SELECT doc_id, cand,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, cand) AS rn
        FROM scores
      ) WHERE rn = 1
    ),
    scored AS (
      SELECT d.lang, coalesce(p.pred_lang, 'und') AS pred_lang
      FROM documents d LEFT JOIN pred p ON p.doc_id = d.doc_id
    ),
    roll AS (
      SELECT lang, pred_lang, count(*) AS n_docs
      FROM scored GROUP BY 1, 2
    )
    SELECT lang, pred_lang,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST((n_docs * 1000000)
                // sum(n_docs) OVER (PARTITION BY lang) AS BIGINT)
             AS share_ppm
    FROM roll
    """,
)
def hashed_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Claimed-vs-detected confusion under the fasttext-shaped lang head
    (text/analysis.py::hashed_lang_id feeding lang_confusion's scored
    seam, VERDICT r7 item 6): a multi-class LINEAR classifier over
    hashing-trick features — one weight vector per language, argmax with
    deterministic ties — replacing the fixed-stopword heuristic. Here the
    weights are the deterministic index-hash stand-ins so the whole path
    (token → feature idx → per-lang fold → argmax → rollup) is
    oracle-checked end to end; production injects exported model weights
    through the same seam. Explode-free scoring (one md5 per token into a
    materialized index array, |langs| native folds per row, zero
    shuffles), then one metadata-scale (claimed, predicted) aggregate."""
    from pharmacodi_spark.text.analysis import hashed_lang_id, lang_confusion

    d = _t(spark, sf_dir, "documents")
    scored = hashed_lang_id(d, langs=_LID_LANGS)
    return lang_confusion(d, claimed_col="lang", scored=scored)


# ---------------------------------------------------------------------------
# Host link graph -> PageRank quality prior
# (text/html.py::extract_links + urls.url_host + operators/graph.py)
# ---------------------------------------------------------------------------


def _host_rank_parts(iters: int = 6) -> list[str]:
    """The CTE list behind :func:`_host_rank_sql` — also reused as the
    rank-prior sub-derivation of the authority_gate oracle.

    Every CTE is ``AS MATERIALIZED`` (r13): each ``r{{i}}`` references
    ``r{{i-1}}`` TWICE (contribution join + dangling-mass subquery), so
    DuckDB's default CTE inlining re-evaluated the chain 2^iters times —
    the authority_gate oracle alone took 280 s at sf0.01 (measured; the
    r12 entry-22 "vanilla-session planning sensitivity" was in fact
    mostly THIS, oracle-side). Materialized: 0.04 s, rows identical."""
    n_nodes = "(SELECT count(*) FROM nodes)"
    base = "(SELECT (15000000000 // (100 * count(*))) FROM nodes)"
    parts = [
        """sn AS MATERIALIZED (
      SELECT DISTINCT lower(source) AS sh,
             CAST(substr(source, 4) AS INT) AS n
      FROM documents
    ),
    edges AS MATERIALIZED (
      SELECT sh || '.example.com' AS src,
             'src' || CAST(n % 5 AS VARCHAR) || '.example.com' AS dst
      FROM sn
      UNION
      SELECT sh || '.example.com',
             'src' || CAST((n * n) % 11 AS VARCHAR) || '.example.com'
      FROM sn
      UNION
      SELECT sh || '.example.com', 'hub.example.com'
      FROM sn WHERE n % 3 = 0
    )""",
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
    return parts


def _host_rank_sql(iters: int = 6) -> str:
    """Unrolled integer-PageRank oracle over the CLOSED-FORM host edge set
    the synthesized pages encode (the oracle never parses HTML): host
    srcN links to src(N%5) and src((N·N)%11) — a SKEWED in-degree profile
    (quadratic residues collide unevenly), so ranks genuinely spread —
    and every N%3==0 host also links to the pure sink 'hub.example.com'
    (never a source → real dangling mass). Same integer algebra as
    _pagerank_dangling_sql (scale 1e9, damping 85/100, dangling
    redistributed)."""
    return (
        "WITH "
        + ",\n    ".join(_host_rank_parts(iters))
        + f"\n    SELECT v AS host, CAST(r AS BIGINT) AS rank_e9 "
        f"FROM r{iters}"
    )


_LINK_PAGE_EXPR = r"""
concat(
  '<html><head><title>Doc ', doc_id,
  '</title><script>var s = "<a href=\"http://fake.example.com/\">x</a>";',
  '</script></head><body>',
  '<p>See <a href="http://src', CAST(substring(source, 4) AS INT) % 5,
  '.example.com/p/', doc_id, '">a related page</a> and ',
  '<a href="http://src',
  (CAST(substring(source, 4) AS INT) * CAST(substring(source, 4) AS INT))
    % 11,
  '.example.com/q/', doc_id, '">another</a> for details.</p>',
  CASE WHEN CAST(substring(source, 4) AS INT) % 3 = 0
       THEN concat('<p>Also <a href=''http://hub.example.com/h/',
                   doc_id, '''>the hub</a>.</p>')
       ELSE '' END,
  '</body></html>'
)
"""


def _host_rank_df(
    spark: SparkSession, sf_dir: str, iterations: int = 6
) -> DataFrame:
    """The host_link_rank dataflow with the iteration count exposed —
    host_link_rank keeps its published 6-iteration contract while cheaper
    consumers (rank_weighted_select's 2-iteration prior, whose DuckDB twin
    must stay affordable: the 6-iteration CTE runs minutes at sf0.01 per
    the ROADMAP note) reuse the identical edge derivation."""
    from pharmacodi_spark.operators.graph import pagerank_int
    from pharmacodi_spark.text.html import extract_links
    from pharmacodi_spark.text.urls import url_host

    d = _t(spark, sf_dir, "documents")
    pages = d.select(
        "doc_id",
        F.concat(F.lower(F.col("source")), F.lit(".example.com")).alias(
            "src_host"
        ),
        F.expr(_LINK_PAGE_EXPR).alias("html"),
    )
    links = extract_links(pages, "html", id_col="doc_id").join(
        pages.select("doc_id", "src_host"), "doc_id"
    )
    edges = links.select(
        F.col("src_host").alias("src"), url_host("href").alias("dst")
    ).distinct()
    out = pagerank_int(edges, iterations=iterations, dangling="redistribute")
    return out.select(
        F.col("v").alias("host"), F.col("r").cast("long").alias("rank_e9")
    )


@q("host_link_rank", _host_rank_sql(6))
def host_link_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level link-graph PageRank — the CommonCrawl-style domain
    authority prior next to the content gates (a host no one links to,
    or only spam rings link to, scores low before a single page is
    read). Composes three library layers end to end:
    text/html.py::extract_links (native anchor extraction over the
    SCRUBBED page — the script body's fake anchor must not become an
    edge; both quote styles), text/urls.py::url_host (href → canonical
    host), and operators/graph.py::pagerank_int (6 iterations, integer
    algebra, dangling mass redistributed — 'hub.example.com' is a pure
    sink). Edges are distinct (src_host, dst_host) pairs — the graph is
    domain-cardinality metadata; pages never shuffle. The oracle states
    the edge set in closed form and unrolls the same integer PageRank."""
    return _host_rank_df(spark, sf_dir, iterations=6)


_URL_SUBDOM_EXPR = (
    "concat('http://', CASE WHEN doc_id % 5 = 0 THEN 'CDN.' "
    "WHEN doc_id % 5 = 1 THEN 'a.b.' ELSE '' END, "
    "source, '.CO.UK/p/', doc_id)"
)


@q(
    "domain_quality_rollup_psl",
    """
    WITH s AS (
      SELECT doc_id, lower(source) AS ls,
             CASE WHEN doc_id % 5 = 0 THEN 'cdn.'
                  WHEN doc_id % 5 = 1 THEN 'a.b.' ELSE '' END AS pre,
             (source = 'src5' OR (source = 'src7' AND doc_id % 2 = 0))
               AS failed
      FROM documents
    ),
    st AS (
      SELECT ls, count(*) AS n,
             sum(CASE WHEN failed THEN 1 ELSE 0 END) AS nf
      FROM s GROUP BY 1
    ),
    b AS (
      SELECT ls, (nf * 1000000) // n AS ppm
      FROM st WHERE n >= 3 AND nf * 1000000 >= 400000 * n
    )
    SELECT s.doc_id,
           s.pre || s.ls || '.co.uk' AS host,
           s.ls || '.co.uk' AS rollup_key,
           CAST(b.ppm AS BIGINT) AS host_fail_ppm,
           b.ppm IS NULL AS keep
    FROM s LEFT JOIN b USING (ls)
    """,
)
def domain_quality_rollup_psl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-domain quality drop keyed on the PSL REGISTERED domain
    (text/urls.py::domain_quality_gate(psl=…), r8 — the production
    keying the r7 roadmap called for): a spam operation spread over
    ``cdn.`` / deep-subdomain variants pools onto its registrable domain
    before the threshold runs, so the subdomain split can't dilute the
    rate below min_docs/ppm. Every 5th doc rides a ``cdn.`` host, every
    5th+1 a two-level ``a.b.`` host — all pooling to
    ``<source>.co.uk``. Same scale shape as the host-keyed rollup plus
    the bounded suffix explode + one id-keyed agg for the registrable
    key; the offender table still broadcasts back. Closed-form oracle
    per source."""
    from pharmacodi_spark.text.urls import domain_quality_gate

    d = _t(spark, sf_dir, "documents")
    with_url = d.select(
        "doc_id",
        "source",
        F.expr(_URL_SUBDOM_EXPR).alias("url"),
        (
            (F.col("source") == "src5")
            | ((F.col("source") == "src7") & (F.col("doc_id") % 2 == 0))
        ).alias("failed"),
    )
    psl = local_df(
        spark, [("// PSL excerpt",), ("uk",), ("co.uk",)], ["suffix"]
    )
    return domain_quality_gate(
        with_url, "failed", min_docs=3, max_fail_ppm=400_000, psl=psl
    )


@q(
    "anchor_text_rollup",
    """
    WITH sn AS (
      SELECT lower(source) AS sh, CAST(substr(source, 4) AS INT) AS n,
             count(*) AS docs
      FROM documents GROUP BY 1, 2
    ),
    contrib AS (
      SELECT 'src' || CAST(n % 5 AS VARCHAR) || '.example.com' AS host,
             unnest(['a', 'related', 'page']) AS token, docs
      FROM sn
      UNION ALL
      SELECT 'src' || CAST((n * n) % 11 AS VARCHAR) || '.example.com',
             'another', docs
      FROM sn
      UNION ALL
      SELECT 'hub.example.com', unnest(['the', 'hub']), docs
      FROM sn WHERE n % 3 = 0
    ),
    counts AS (
      SELECT host, token, CAST(sum(docs) AS BIGINT) AS n
      FROM contrib GROUP BY 1, 2
    )
    SELECT host, token, n, CAST(rank AS BIGINT) AS rank FROM (
      SELECT host, token, n,
             row_number() OVER (PARTITION BY host
                                ORDER BY n DESC, token) AS rank
      FROM counts
    ) WHERE rank <= 3
    """,
)
def anchor_text_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target-host anchor-text terms (text/html.py::
    anchor_term_rollup): what the rest of the corpus CALLS each domain —
    the classic off-page relevance signal riding next to host_link_rank's
    authority prior. Same synthesized link pages as host_link_rank
    (anchors 'a related page' / 'another' / 'the hub' at deterministic
    targets); the oracle states the expected (host, token) counts in
    closed form from the source table, never parsing HTML. One map-side
    aggregation over exploded anchor tokens; the rank window runs on the
    metadata-scale rollup."""
    from pharmacodi_spark.text.html import anchor_term_rollup

    d = _t(spark, sf_dir, "documents")
    pages = d.select(
        "doc_id", "source", F.expr(_LINK_PAGE_EXPR).alias("html")
    )
    return anchor_term_rollup(pages, "html", k=3)


# ---------------------------------------------------------------------------
# robots.txt crawl-permission gate (text/urls.py::robots_gate)
# ---------------------------------------------------------------------------

_ROBOTS_URL_EXPR = (
    "concat('http://', CASE WHEN doc_id % 5 = 0 THEN 'CDN.' ELSE '' END, "
    "source, '.Example.COM', CASE WHEN doc_id % 4 = 0 "
    "THEN concat('/p/public/', doc_id) ELSE concat('/p/', doc_id) END, "
    "CASE WHEN doc_id % 7 = 0 THEN concat('?ref=', doc_id) ELSE '' END)"
)

_ROBOTS_BODIES = {
    # longest-prefix: /p/ disallowed but /p/public/ re-allowed
    "src3.example.com": (
        "# site rules\nUser-agent: *\nDisallow: /p/\nAllow: /p/public/\n"
    ),
    # blanket disallow
    "src7.example.com": "User-agent: *\nDisallow: /\n",
    # agent-specific group OVERRIDES the permissive * group for trainbot
    "src5.example.com": (
        "User-agent: trainbot\nDisallow: /p/\n\n"
        "User-agent: *\nAllow: /\n"
    ),
    # rules fetched from the www. host must gate the apex host — the
    # rules side gets the same normalization as url_host (ADVICE r8)
    "www.src1.example.com": "User-agent: *\nDisallow: /\n",
    # Google-REP wildcards: '*' any char sequence, trailing '$' anchor
    "src2.example.com": "User-agent: *\nDisallow: /*4$\n",
    # query-targeted rule: RFC 9309 matches against path INCLUDING query
    "src6.example.com": "User-agent: *\nDisallow: *?ref=\n",
}


#: closed-form trainbot verdict over the _ROBOTS_BODIES fixture — shared by
#: the robots_txt_gate oracle and the crawl_permission_funnel rollup so the
#: two can never drift apart
_ROBOTS_ALLOWED_CASE = """CASE WHEN doc_id % 5 = 0 THEN TRUE
                WHEN source = 'src7' THEN FALSE
                WHEN source = 'src1' THEN FALSE
                WHEN source = 'src3' THEN doc_id % 4 = 0
                WHEN source = 'src5' THEN FALSE
                WHEN source = 'src2' THEN doc_id % 10 <> 4
                WHEN source = 'src6' THEN doc_id % 7 <> 0
                ELSE TRUE END"""


@q(
    "robots_txt_gate",
    f"""
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 0 THEN 'cdn.' ELSE '' END
             || lower(source) || '.example.com' AS host,
           (CASE WHEN doc_id % 4 = 0 THEN '/p/public/' || doc_id
                 ELSE '/p/' || doc_id END)
           || (CASE WHEN doc_id % 7 = 0 THEN '?ref=' || doc_id
                    ELSE '' END) AS path,
           CASE WHEN doc_id % 5 = 0 THEN NULL
                WHEN source = 'src7' THEN '/'
                WHEN source = 'src1' THEN '/'
                WHEN source = 'src3' AND doc_id % 4 = 0 THEN '/p/public/'
                WHEN source = 'src3' THEN '/p/'
                WHEN source = 'src5' THEN '/p/'
                WHEN source = 'src2' AND doc_id % 10 = 4 THEN '/*4$'
                WHEN source = 'src6' AND doc_id % 7 = 0 THEN '*?ref='
                ELSE NULL END AS matched_prefix,
           {_ROBOTS_ALLOWED_CASE} AS allowed
    FROM documents
    """,
)
def robots_txt_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-exclusion crawl gate for agent 'trainbot'
    (text/urls.py::robots_gate + parse_robots_lines, r8; wildcards +
    host/query normalization r9): six fetched robots.txt bodies are
    parsed driver-side into the broadcast rule frame —
    longest-rule-wins with allow-on-tie (src3 re-allows /p/public/
    under a /p/ disallow), blanket disallow (src7), the agent-specific
    group override (src5's permissive '*' group is IGNORED because a
    trainbot group exists), rules fetched from a www. host gating the
    apex host (src1, ADVICE r8), a Google-REP anchored wildcard
    'Disallow: /*4$' dropping every path that ends in 4 (src2), and a
    query-targeted 'Disallow: *?ref=' proving RFC 9309 path+query
    matching (src6). cdn.-hosts publish no robots → allowed. URLs join
    the broadcast rules by host; plain rules match as native
    startswith, wildcard rules via a broadcast-side regex translation;
    one map-side-collapsing per-id aggregation picks the winner. The
    oracle states every verdict in closed form."""
    from pharmacodi_spark.text.urls import parse_robots_lines, robots_gate

    d = _t(spark, sf_dir, "documents")
    with_url = d.select(
        "doc_id", "source", F.expr(_ROBOTS_URL_EXPR).alias("url")
    )
    rule_rows = [
        r
        for host, body in sorted(_ROBOTS_BODIES.items())
        for r in parse_robots_lines(host, body)
    ]
    rules = local_df(
        spark, rule_rows, ["host", "agent", "allow", "prefix"]
    )
    return robots_gate(with_url, rules, agent="trainbot")


def _authority_gate_sql(iters: int = 6) -> str:
    return (
        "WITH "
        + ",\n    ".join(_host_rank_parts(iters))
        + f""",
    ranks AS (SELECT v AS host, r FROM r{iters}),
    st AS (SELECT count(*) AS n, sum(r) AS s FROM ranks)
    SELECT d.doc_id,
           lower(d.source) || '.example.com' AS host,
           CAST(ranks.r AS BIGINT) AS rank_e9,
           ranks.r * (SELECT n FROM st) >= (SELECT s FROM st) AS keep
    FROM documents d
    JOIN ranks ON ranks.host = lower(d.source) || '.example.com'
    """
    )


@q("authority_gate", _authority_gate_sql(6))
def authority_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Authority-prior selection gate: keep documents whose HOST carries
    at-least-average link-graph PageRank — the standard crawl-frontier /
    curation prior composed end to end from this round's pieces:
    extract_links → url_host → pagerank_int (host_link_rank) feeding a
    per-doc verdict. The mean is an exact integer cross-multiplication
    (``r·n ≥ Σr`` over the rank universe — no division), so every engine
    agrees bit-for-bit. The rank table is domain-cardinality metadata:
    pinned once (it feeds the stats aggregate AND the per-doc join),
    stats ride as a broadcast 1-row aggregate, and the doc join probes
    the broadcast rank table — bodies never shuffle."""
    from pharmacodi_spark.barrier import stage_barrier

    ranks = stage_barrier(
        host_link_rank(spark, sf_dir), name="authority_ranks"
    )
    st = ranks.agg(
        F.count("*").alias("__n"), F.sum("rank_e9").alias("__s")
    )
    d = _t(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        F.concat(F.lower(F.col("source")), F.lit(".example.com")).alias(
            "host"
        ),
    )
    return (
        docs.join(F.broadcast(ranks), "host")
        .crossJoin(F.broadcast(st))
        .select(
            "doc_id",
            "host",
            "rank_e9",
            (F.col("rank_e9") * F.col("__n") >= F.col("__s")).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Unicode tokenization (text/analysis.py::unicode_tokens) — VERDICT r8 item 3
# ---------------------------------------------------------------------------

#: mixed-script fixture sentences (index = doc_id % 4): Han, Thai+Latin,
#: Japanese (Hiragana/Katakana/Han), pure-Latin control. Shared verbatim by
#: the Spark literal array and the DuckDB CASE so the fixture can't diverge.
_MIXED_SENTENCES = [
    "深度学习模型的训练数据质量很重要",
    "ทดสอบการตัดคำภาษาไทย with a latin tail",
    "日本語のテキスト処理パイプライン test",
    "plain ascii words only here",
]

#: RE2 (DuckDB) twins of analysis._SPACEFREE_JAVA / the \p{L}\p{M}\p{N}
#: extraction class — same Unicode semantics, different property syntax
_SPACEFREE_RE2_CLS = r"([\p{Han}\p{Hiragana}\p{Katakana}\p{Thai}])"
_UNI_TOKEN_RE2 = r"[\p{L}\p{M}\p{N}]+"

_UNI_CASE = (
    "CASE CAST(doc_id % 4 AS INT) "
    + " ".join(
        f"WHEN {i} THEN '{s}'" for i, s in enumerate(_MIXED_SENTENCES)
    )
    + " END"
)


@q(
    "unicode_token_stats",
    f"""
    WITH fixture AS (
      SELECT doc_id,
             CAST(doc_id % 4 AS BIGINT) AS bucket,
             'doc ' || CAST(doc_id AS VARCHAR) || ' ' || {_UNI_CASE} AS text
      FROM documents
    ),
    tok AS (
      SELECT bucket,
             len(list_filter(str_split(text, ' '), x -> x <> ''))
               AS n_ws,
             len(regexp_extract_all(
               regexp_replace(text, '{_SPACEFREE_RE2_CLS}', ' \\1 ', 'g'),
               '{_UNI_TOKEN_RE2}')) AS n_uni
      FROM fixture
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_ws) AS BIGINT) AS sum_ws_tokens,
           CAST(sum(n_uni) AS BIGINT) AS sum_uni_tokens,
           CAST(min(n_uni) AS BIGINT) AS min_uni_tokens,
           CAST(max(n_uni) AS BIGINT) AS max_uni_tokens
    FROM tok
    GROUP BY bucket
    """,
)
def unicode_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode/multilingual tokenization audit (text/analysis.py::
    unicode_tokens, VERDICT r8 item 3): a mixed-script fixture (Han,
    Thai, Japanese, Latin-control sentences keyed by doc_id % 4)
    tokenized two ways — the historical split-on-space convention vs the
    script-aware tokenizer (space-free-script chars padded into
    char-level tokens, then \\p{{L}}\\p{{M}}\\p{{N}} runs extracted).
    The per-bucket rollup makes the failure mode measurable: CJK/Thai
    buckets report ~3-5 whitespace "words" per doc (the whole sentence
    collapses to one token) but 15-25 unicode tokens, while the Latin
    control bucket agrees under both tokenizers. Two native regex
    projections + one map-side-combining aggregate — zero joins, zero
    UDFs; the DuckDB twin runs the same two regexes in RE2 syntax."""
    from pharmacodi_spark.text.analysis import unicode_tokens

    d = _t(spark, sf_dir, "documents")
    sent = F.element_at(
        F.lit(_MIXED_SENTENCES), (F.col("doc_id") % 4).cast("int") + 1
    )
    fixture = d.select(
        (F.col("doc_id") % 4).cast("long").alias("bucket"),
        F.concat(
            F.lit("doc "), F.col("doc_id").cast("string"), F.lit(" "), sent
        ).alias("text"),
    )
    tok = fixture.select(
        "bucket",
        F.size(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("n_ws"),
        F.size(unicode_tokens("text")).alias("n_uni"),
    )
    return tok.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_ws").cast("long").alias("sum_ws_tokens"),
        F.sum("n_uni").cast("long").alias("sum_uni_tokens"),
        F.min("n_uni").cast("long").alias("min_uni_tokens"),
        F.max("n_uni").cast("long").alias("max_uni_tokens"),
    )


# ---------------------------------------------------------------------------
# CJK near-dup through the unchanged MinHash family
# (text/analysis.py::normalize_spacefree as the stage-0 projection)
# ---------------------------------------------------------------------------

#: raw UNSPACED Han documents in SIZE-BOUNDED near-dup classes: docs 2k and
#: 2k+1 share a class whose body is the class id's md5 rendered in Han
#: chars (translate hex → 16 Han numerals — unique per class, so classes
#: never share shingles and the planted pair count grows LINEARLY with the
#: corpus; the first fixture keyed classes on doc_id mods, whose sizes grew
#: with sf and made the sf1 pair list quadratic — 104x wall at 10x data).
#: The odd member appends one extra char, so the pair is a NEAR-dup, not an
#: exact one. split-on-space still sees ~2 tokens per document until
#: normalize_spacefree pads the chars apart.
_CJK_HEX_HAN = "零一二三四五六七八九甲乙丙丁戊己"


def _unicode_minhash_sql() -> str:
    raw = (
        "'语料' || translate(md5(CAST(doc_id // 2 AS VARCHAR)), "
        f"'0123456789abcdef', '{_CJK_HEX_HAN}') || "
        "CASE WHEN doc_id % 2 = 1 THEN '变' ELSE '' END"
    )
    norm = (
        "trim(regexp_replace(regexp_replace(" + raw + ", "
        r"'([\p{Han}\p{Hiragana}\p{Katakana}\p{Thai}])', ' \1 ', 'g'), "
        r"'\s+', ' ', 'g'))"
    )
    return f"""
    WITH fixture AS (
      SELECT doc_id, {norm} AS text FROM documents
    ),
    sh AS (
      SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS shingle
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, greatest(len(toks)-4, 1))) AS i
            FROM (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM fixture))
    ),
    sig AS (
      SELECT doc_id, {_minhash_sql_select(4)} FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band, h0 AS v1, h1 AS v2 FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band, h2 AS v1, h3 AS v2 FROM sig
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.v1 = b.v1 AND a.v2 = b.v2
    WHERE a.doc_id < b.doc_id
    """


@q("unicode_minhash_pairs", _unicode_minhash_sql())
def unicode_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CJK near-dup candidate pairs through the UNCHANGED MinHash-LSH
    family (r9): the fixture documents are raw unspaced Han text —
    size-bounded planted near-dup classes (docs 2k/2k+1 share a
    class-unique md5-derived Han body; the odd member differs by one
    char), on which split-on-space sees ~2 tokens per document and every
    shingle detector silently degenerates (the VERDICT r8 multilingual
    gap). text/analysis.py::normalize_spacefree runs as a stage-0
    projection (each space-free-script char padded into its own token,
    whitespace collapsed), after which the existing
    shingle→md5→minhash→band→bucket pipeline works verbatim — proving
    the dedup family is multilingual via ONE zero-shuffle pre-stage, not
    a parallel CJK implementation. Same scale shape as
    minhash_band_pairs: one explode + one signature groupBy, bucket-local
    pair expansion under the triangle hot-cell guard, no self-join; the
    planted pair count grows LINEARLY with the corpus (classes never
    share shingles), so the sf1 wall tracks data, not pairs². The oracle
    runs the identical normalization + pipeline in RE2/DuckDB syntax."""
    from pharmacodi_spark.text.analysis import normalize_spacefree
    from pharmacodi_spark.text.dedup import md5_band_pairs, md5_signature

    d = _t(spark, sf_dir, "documents")
    body = F.concat(
        F.lit("语料"),
        F.translate(
            F.md5(F.expr("cast(doc_id div 2 as string)")),
            "0123456789abcdef",
            _CJK_HEX_HAN,
        ),
        F.when(F.col("doc_id") % 2 == 1, F.lit("变")).otherwise(F.lit("")),
    )
    fixture = d.select(
        "doc_id", normalize_spacefree(body).alias("text")
    )
    return md5_band_pairs(md5_signature(fixture))


# ---------------------------------------------------------------------------
# Crawl-permission funnel E2E (urls.py: robots_gate + domain_gate composed)
# ---------------------------------------------------------------------------


@q(
    "crawl_permission_funnel",
    f"""
    SELECT lower(source) AS source,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(sum(CASE WHEN NOT ({_ROBOTS_ALLOWED_CASE})
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_robots_blocked,
           CAST(sum(CASE WHEN source IN ('src4', 'src6')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_domain_blocked,
           CAST(sum(CASE WHEN ({_ROBOTS_ALLOWED_CASE})
                          AND source NOT IN ('src4', 'src6')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_crawlable
    FROM documents
    GROUP BY 1
    """,
)
def crawl_permission_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier permission funnel (r9): the pre-fetch compliance
    E2E a production crawler runs per candidate URL — robots-exclusion
    verdict (the full r9 gate: agent-group override, Google-REP
    wildcards, www-normalized rule hosts, RFC 9309 path+query matching)
    AND the domain blocklist with subdomain-suffix semantics, rolled up
    per source into the audit table (urls in, robots-blocked,
    domain-blocked, crawlable). src6 is blocked BOTH ways (its robots
    disallows ?ref= URLs and the domain list names it — the funnel
    counts are independent columns, not a waterfall), src4 is
    domain-blocked only, and the cdn. subdomains prove suffix semantics.

    Scale shape: both gates join URLs against BROADCAST compliance-scale
    rule frames; the funnel joins the two per-doc verdict frames by id
    (metadata tuples: id + bool) and aggregates map-side into the
    source-cardinality rollup. Bodies never shuffle. The oracle restates
    every verdict in closed form (the robots CASE is shared verbatim
    with the robots_txt_gate oracle)."""
    from pharmacodi_spark.text.urls import (
        domain_gate,
        parse_robots_lines,
        robots_gate,
    )

    d = _t(spark, sf_dir, "documents")
    with_url = d.select(
        "doc_id",
        F.lower(F.col("source")).alias("source"),
        F.expr(_ROBOTS_URL_EXPR).alias("url"),
    )
    rule_rows = [
        r
        for host, body in sorted(_ROBOTS_BODIES.items())
        for r in parse_robots_lines(host, body)
    ]
    rules = local_df(
        spark, rule_rows, ["host", "agent", "allow", "prefix"]
    )
    rb = robots_gate(with_url, rules, agent="trainbot").select(
        "doc_id", "allowed"
    )
    blocked = local_df(
        spark, [("src4.example.com",), ("src6.example.com",)], ["domain"]
    )
    dg = domain_gate(with_url, blocked).select("doc_id", "keep")
    # the verdict join-up carries (id, bool) tuples on a unique unskewed
    # key — shuffled-hash beats sort-merge (no sort passes; the static
    # planner can't see the frames are metadata-thin)
    per = (
        with_url.select("doc_id", "source")
        .join(rb.hint("shuffle_hash"), "doc_id")
        .join(dg.hint("shuffle_hash"), "doc_id")
    )
    return per.groupBy("source").agg(
        F.count("*").cast("long").alias("n_urls"),
        F.sum(F.when(~F.col("allowed"), 1).otherwise(0))
        .cast("long")
        .alias("n_robots_blocked"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_domain_blocked"),
        F.sum(F.when(F.col("allowed") & F.col("keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_crawlable"),
    )


# ---------------------------------------------------------------------------
# Cross-scheme tokenizer fertility (regex pre-tokenizer vs trie vocab)
# ---------------------------------------------------------------------------


def _fertility_by_scheme_sql() -> str:
    from pharmacodi_spark.plans.extensions2 import _TOKENIZER_VOCAB_SQL

    return f"""
    WITH RECURSIVE
    vocab(piece) AS (VALUES {_TOKENIZER_VOCAB_SQL}),
    doc_words AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
        FROM documents)
      WHERE w <> ''
    ),
    words AS (SELECT DISTINCT w FROM doc_words),
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
    wp AS (SELECT w, n AS n_pieces, unk AS n_unk
           FROM step WHERE pos > length(w)),
    agg_w AS (
      SELECT dw.doc_id, count(*) AS n_w,
             sum(wp.n_pieces) AS n_v, sum(wp.n_unk) AS n_u
      FROM doc_words dw JOIN wp ON dw.w = wp.w GROUP BY 1
    ),
    reg AS (
      SELECT doc_id, source,
             len(regexp_extract_all(
               text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_r
      FROM documents
    ),
    per AS (
      SELECT r.source, r.n_r,
             coalesce(a.n_w, 0) AS n_w,
             coalesce(a.n_v, 0) AS n_v,
             coalesce(a.n_u, 0) AS n_u
      FROM reg r LEFT JOIN agg_w a USING (doc_id)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_w) AS BIGINT) AS n_words,
           CAST(sum(n_r) AS BIGINT) AS n_regex_tokens,
           CAST(sum(n_v) AS BIGINT) AS n_vocab_tokens,
           CAST(sum(n_u) AS BIGINT) AS n_unk,
           CAST((sum(n_r) * 100) // greatest(sum(n_w), 1) AS BIGINT)
             AS regex_per_100_words,
           CAST((sum(n_v) * 100) // greatest(sum(n_w), 1) AS BIGINT)
             AS vocab_per_100_words,
           CAST((sum(n_u) * 1000000) // greatest(sum(n_v), 1) AS BIGINT)
             AS unk_ppm
    FROM per GROUP BY source
    """


@q("fertility_by_scheme", _fertility_by_scheme_sql())
def fertility_by_scheme(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-scheme tokenizer fertility per origin (r9, the ROADMAP r9
    candidate): the SAME corpus budgeted under the regex pre-tokenizer
    (text/analysis.py::tokenizer_fertility's token classes) AND a real
    greedy-longest-prefix vocabulary (text/tokenizer.py::
    vocab_token_counts) — the table that answers "which origin's token
    budget moves when we switch tokenizers" (markup-heavy sources
    fragment under a small vocab long before word counts show it).
    Integer fixed-point ratios (×100 / ppm, floor) per source: regex and
    vocab tokens per 100 whitespace words, unk parts-per-million.

    Scale shape: the regex side is per-row native expressions; the vocab
    side is the ONE mapInPandas pass with per-batch word memoization; the
    per-doc join-up is shuffled-hash on the unique id key (metadata
    tuples), then one map-side-collapsing rollup to source cardinality.
    The oracle replays the greedy trie walk as the recursive CTE and the
    regex count in RE2."""
    from pharmacodi_spark.plans.extensions2 import _TOKENIZER_VOCAB
    from pharmacodi_spark.text.tokenizer import vocab_token_counts

    d = _t(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.col("text"), r"\s+"), lambda x: x != ""
    )
    toks = F.regexp_extract_all(
        "text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0
    )
    base = d.select(
        "doc_id",
        "source",
        F.size(words).cast("long").alias("n_w"),
        F.size(toks).cast("long").alias("n_r"),
    )
    vt = vocab_token_counts(d, _TOKENIZER_VOCAB)
    per = base.join(vt.hint("shuffle_hash"), "doc_id")
    agg = per.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_w").cast("long").alias("n_words"),
        F.sum("n_r").cast("long").alias("n_regex_tokens"),
        F.sum("n_vocab_tokens").cast("long").alias("n_vocab_tokens"),
        F.sum("n_unk").cast("long").alias("n_unk"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_words",
        "n_regex_tokens",
        "n_vocab_tokens",
        "n_unk",
        F.expr("(n_regex_tokens * 100) div greatest(n_words, 1)")
        .cast("long")
        .alias("regex_per_100_words"),
        F.expr("(n_vocab_tokens * 100) div greatest(n_words, 1)")
        .cast("long")
        .alias("vocab_per_100_words"),
        F.expr("(n_unk * 1000000) div greatest(n_vocab_tokens, 1)")
        .cast("long")
        .alias("unk_ppm"),
    )


# ---------------------------------------------------------------------------
# Classifier calibration / agreement table (hashed linear scorer)
# ---------------------------------------------------------------------------


@q(
    "classifier_calibration",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
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
    s AS (SELECT doc_id, CAST(sum(wt) AS BIGINT) AS score FROM w GROUP BY 1),
    per AS (
      SELECT t.doc_id,
             CAST(len(t.toks) AS BIGINT) AS n_tokens,
             coalesce(s.score, 0) AS score
      FROM t LEFT JOIN s USING (doc_id)
    ),
    b AS (
      SELECT score // 5000 AS bucket,
             CASE WHEN score >= 0 THEN 1 ELSE 0 END AS keep,
             CASE WHEN n_tokens >= 30 THEN 1 ELSE 0 END AS ref
      FROM per
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(keep) AS BIGINT) AS n_keep,
           CAST(sum(ref) AS BIGINT) AS n_ref_keep,
           CAST(sum(CASE WHEN keep = ref THEN 1 ELSE 0 END) AS BIGINT)
             AS n_agree,
           CAST((sum(CASE WHEN keep = ref THEN 1 ELSE 0 END) * 1000000)
                // count(*) AS BIGINT) AS agree_ppm
    FROM b GROUP BY bucket
    """,
)
def classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-bucket calibration/agreement table for the model-based
    quality filter (r9): documents bin by hashed-linear score (the
    quality_classifier_score scorer, 5000-centi-point buckets via
    truncating integer division — Spark ``div`` and DuckDB integer ``//``
    both truncate toward zero, so the binning is exact for every int64
    score with no shift bound to outgrow), and each bucket reports how
    the classifier verdict
    agrees with an independent reference gate (the ≥30-token length
    prior) — the standard reliability table a pipeline inspects before
    trusting a filter at a new threshold (monotone agreement by bucket ⇒
    the score is calibrated against the prior; a flat band locates
    scores the filter should abstain on).

    Scale shape: scoring is the same zero-join per-document fold as
    quality_classifier_score (the corpus never leaves its scan
    partitions); the calibration rollup is ONE map-side-collapsing
    aggregate to bucket cardinality. The oracle restates the scorer and
    the binning in closed form."""
    from pharmacodi_spark.text.analysis import hashed_linear_score

    d = _t(spark, sf_dir, "documents")
    scored = hashed_linear_score(d, weights=None, dim=4096, salt="q")
    b = scored.select(
        # Spark `div` and DuckDB integer `//` BOTH truncate toward zero
        # (verified: duckdb -7 // 2 = -3, not -4 — `//` floors only the
        # r9 code's assumed way for nothing; floats aren't even integer-
        # divided). So plain truncating division agrees between the
        # engines for every int64 score — the r9 "+10M shift" (which
        # silently broke past 10k-token documents, ADVICE r9) is dropped
        # rather than re-bounded.
        F.expr("score_centi div 5000").alias("bucket"),
        F.when(F.col("score_centi") >= 0, 1).otherwise(0).alias("keep"),
        F.when(F.col("n_tokens") >= 30, 1).otherwise(0).alias("ref"),
    )
    agg = b.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("keep").cast("long").alias("n_keep"),
        F.sum("ref").cast("long").alias("n_ref_keep"),
        F.sum(F.when(F.col("keep") == F.col("ref"), 1).otherwise(0))
        .cast("long")
        .alias("n_agree"),
    )
    return agg.select(
        F.col("bucket").cast("long").alias("bucket"),
        "n_docs",
        "n_keep",
        "n_ref_keep",
        "n_agree",
        F.expr("(n_agree * 1000000) div n_docs")
        .cast("long")
        .alias("agree_ppm"),
    )


@q(
    "embedding_encode_stats",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
    h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('e' || w), 1, 15)) AS BIGINT) % 16 AS j,
             CASE WHEN CAST(('0x' || substr(md5('s' || w), 1, 15)) AS BIGINT)
                       % 2 = 0 THEN 1 ELSE -1 END AS s
      FROM tok
    ),
    d AS (SELECT doc_id, j, CAST(sum(s) AS BIGINT) AS v FROM h GROUP BY 1, 2),
    per AS (
      SELECT doc_id,
             CAST(count(*) FILTER (WHERE v <> 0) AS BIGINT) AS nnz,
             CAST(coalesce(sum(abs(v)), 0) AS BIGINT) AS l1,
             CAST(coalesce(sum(v * v), 0) AS BIGINT) AS sumsq,
             CAST(coalesce(max(abs(v)), 0) AS BIGINT) AS max_abs
      FROM d GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(per.nnz, 0) AS nnz,
           coalesce(per.l1, 0) AS l1,
           coalesce(per.sumsq, 0) AS sumsq,
           coalesce(per.max_abs, 0) AS max_abs
    FROM t LEFT JOIN per USING (doc_id)
    """,
)
def embedding_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-GENERATION seam, oracle-verified end-to-end (VERDICT
    r9 item 5): documents encode to 16-dim vectors through
    text/embeddings.py::encode_documents — a real ``mapInPandas`` Arrow
    pass running the injected-encoder contract with the deterministic
    signed-feature-hashing stand-in — and the per-document vector stats
    (nnz / L1 / sum-of-squares / max-abs, all integers) are computed
    NATIVELY from the returned ``array<float>`` column. The DuckDB twin
    restates the stand-in encoder in closed form, so a batching, dtype,
    ordering, or null-handling defect anywhere in the Arrow plumbing
    breaks the value hash.

    Scale shape: the encode pass is shuffle-free (documents never leave
    their scan partitions; a real model adapter drops in via
    ``encoder=``); the stats projection is per-row native array algebra —
    zero joins, zero explode. The int64 accumulator lambda folds the
    float32 cells exactly (per-doc magnitudes ≪ 2^24)."""
    from pharmacodi_spark.text.embeddings import encode_documents

    d = _t(spark, sf_dir, "documents")
    enc = encode_documents(d, dim=16, content_col="text", id_col="doc_id")
    v = F.col("embedding")
    as_long = lambda c: c.cast("long")  # noqa: E731
    return enc.select(
        "doc_id",
        F.size(F.filter(v, lambda x: x != 0)).cast("long").alias("nnz"),
        F.aggregate(
            v, F.lit(0).cast("long"), lambda acc, x: acc + as_long(F.abs(x))
        ).alias("l1"),
        F.aggregate(
            v,
            F.lit(0).cast("long"),
            lambda acc, x: acc + as_long(x) * as_long(x),
        ).alias("sumsq"),
        F.array_max(F.transform(v, lambda x: as_long(F.abs(x)))).alias(
            "max_abs"
        ),
    )


@q(
    "unicode_bigram_surprisal",
    f"""
    WITH fixture AS (
      SELECT doc_id,
             'doc ' || CAST(doc_id AS VARCHAR) || ' ' || {_UNI_CASE} AS text
      FROM documents
    ),
    t AS (
      SELECT doc_id,
             regexp_extract_all(
               regexp_replace(text, '{_SPACEFREE_RE2_CLS}', ' \\1 ', 'g'),
               '{_UNI_TOKEN_RE2}') AS toks
      FROM fixture
    ),
    tr AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 1),
               i -> {{'x': toks[i], 'y': toks[i+1]}})) AS g
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
def unicode_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r10 ``tokens_col=`` seam sweep, driver-verified E2E (VERDICT r9
    item 4): the mixed-script fixture (Han / Thai / Japanese / Latin
    sentences keyed by doc_id % 4) runs through the UNCHANGED
    text/corpus.py::bigram_surprisal with ``tokens_col=unicode_tokens`` —
    under the old split-on-space contract every CJK document is ONE token
    and the transition LM emits no row for 3 of the 4 buckets; through
    the seam each document contributes a real per-char transition stream
    and the integer-log2 surprisal is bit-exact against the oracle's RE2
    restatement of the tokenizer plus the same closed-form bigram LM.

    Scale shape: identical to bigram_surprisal (the seam swaps ONE
    projection): one tokenize+explode collapsed to pinned per-doc
    occurrence counts, vocabulary-scale count tables, scoring joins
    against pins only."""
    from pharmacodi_spark.text.analysis import unicode_tokens
    from pharmacodi_spark.text.corpus import bigram_surprisal

    d = _t(spark, sf_dir, "documents")
    sent = F.element_at(
        F.lit(_MIXED_SENTENCES), (F.col("doc_id") % 4).cast("int") + 1
    )
    fixture = d.select(
        "doc_id",
        F.concat(
            F.lit("doc "), F.col("doc_id").cast("string"), F.lit(" "), sent
        ).alias("text"),
    ).withColumn("toks", unicode_tokens("text"))
    return bigram_surprisal(fixture, tokens_col="toks")


@q(
    "text_semantic_dedup",
    """
    WITH RECURSIVE
    t AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
    hh AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('e' || w), 1, 15)) AS BIGINT) % 32 AS j,
             CASE WHEN CAST(('0x' || substr(md5('s' || w), 1, 15)) AS BIGINT)
                       % 2 = 0 THEN 1 ELSE -1 END AS s
      FROM tok
    ),
    vecs AS (SELECT doc_id, j, CAST(sum(s) AS BIGINT) AS v
             FROM hh GROUP BY 1, 2),
    g AS (SELECT doc_id, list({'j': j, 'v': v}) AS cells
          FROM vecs GROUP BY doc_id),
    q AS (
      SELECT t.doc_id AS vec_id,
             list_transform(generate_series(1, 32), jj ->
               coalesce(list_sum(list_transform(
                 list_filter(g.cells, c -> c.j = jj - 1), c -> c.v)), 0))
               AS qe
      FROM t LEFT JOIN g USING (doc_id)
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
      WHERE na.n2 > 0 AND nb.n2 > 0
        AND CAST(list_sum(list_transform(list_zip(qa.qe, qb.qe),
                                         s -> s[1]*s[2])) AS DOUBLE)
            / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) >= 0.85
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
def text_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEXT-in → droplist-out semantic dedup — the r10 capstone closing
    VERDICT r9 item 5 at the driver level: raw documents encode to 32-dim
    vectors through text/embeddings.py::encode_documents (the Arrow
    mapInPandas encoder seam, deterministic stand-in), and the UNCHANGED
    semantic_dedup_pipeline stages consume the output — IVF-cell blocking
    over the first-16-docs seed centroids, within-cell integer-quantized
    cosine (≥ 0.85; integer dot/norms, ONE IEEE division+sqrt per pair —
    bit-identical across engines), connected components, min-id keeper.
    The oracle nests the closed-form encoder as the head CTE of the same
    recursive-CC SQL (the curation_select_pipeline nesting precedent).

    Scale notes beyond the fixture-backed sibling: the encoded frame is
    STAGE-BARRIER-PINNED immediately after the Python stage — the pair
    stage self-joins its input and the droplist re-reads it, and lazily
    composed each consumer would re-run the (model-inference-heavy in
    production) encode per reference (the r5 lesson, here at its most
    expensive). Zero-norm vectors (empty documents) are excluded from the
    pair stage EXPLICITLY on both sides: Spark compares ``0/0 = NaN`` as
    greater-than-everything while the droplist still carries the doc as
    its own singleton component — the guard keeps the engines aligned
    without dropping rows."""
    from pharmacodi_spark.barrier import stage_barrier
    from pharmacodi_spark.text.clusters import near_dup_droplist
    from pharmacodi_spark.text.embeddings import encode_documents
    from pharmacodi_spark.text.similarity import (
        cell_cosine_pairs,
        seeded_cell_assign,
    )

    d = _t(spark, sf_dir, "documents")
    enc = stage_barrier(
        encode_documents(d, dim=32), name="text_semdedup_enc"
    )
    qe = enc.select(
        F.col("doc_id").alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("long")).alias("qe"),
    )
    # centroid count SCALES with the corpus: k = max(16, n div 256) keeps
    # the average cell near the triangle-guard block size, so within-cell
    # candidate-pair mass stays ~n·256 (linear) instead of n²/16 — the r10
    # sf1 pair measured the fixed-16 version at 25× wall for 10× data,
    # exactly that quadratic term. At sf0.01 (the driver's correctness
    # scale) the expression still yields 16, so oracle rows are unchanged;
    # sf0.1 gets 19 centroids. (Assignment is the broadcast centroid
    # TABLE at every k, so its plan does not grow with n_k.)
    n_k = max(16, qe.count() // 256)
    # seeded_cell_assign feeds the seed frame to the broadcast-centroid-
    # table path as a DataFrame: NOTHING is collected to the driver at
    # any k (r11, VERDICT r10 item 1). Production runs
    # trained_cell_assign instead (k-means|| seeds — cell balance bounds
    # the quadratic within-cell term; r12, tests/test_trained_blocking.py);
    # lowest-id seeding stays here because it is the SQL-reproducible
    # oracle recipe.
    assigned = seeded_cell_assign(qe, n_k, vec_col="qe", out_col="cid")
    # the argmin is the E2E's CPU-heavy projection and
    # cell_cosine_pairs consumes its input THREE times (dim probe, the
    # triangle guard's cell counts, the pair expansion) — pin it so the
    # assignment runs once (the r5 lesson; the r10 sf1 profile measured
    # the unpinned version re-paying ~14s per consumer at 50k docs)
    nz = stage_barrier(
        assigned.where(
            F.aggregate(
                "qe", F.lit(0).cast("long"), lambda acc, x: acc + x * x
            )
            > 0
        ),
        name="text_semdedup_assigned",
    )
    pairs = cell_cosine_pairs(
        nz,
        vec_col="qe",
        id_col="vec_id",
        cell_col="cid",
        threshold=0.85,
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
