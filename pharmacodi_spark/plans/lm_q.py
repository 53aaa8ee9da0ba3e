"""Tokenizer, language-model and packing rows (text/tokenizer, corpus, analysis, packing)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pharmacodi_spark.plans.queries import q, _t, _il


# ---------------------------------------------------------------------------
# BPE-ish tokenization (north star)
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
    return train_vocab(d, vocab_size=50)


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


# ---------------------------------------------------------------------------
# Training-side observability: tokenizer fertility (text/analysis.py) and
# padding efficiency (text/packing.py)
# ---------------------------------------------------------------------------


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
# Cross-scheme tokenizer fertility (regex pre-tokenizer vs trie vocab)
# ---------------------------------------------------------------------------


def _fertility_by_scheme_sql() -> str:
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
