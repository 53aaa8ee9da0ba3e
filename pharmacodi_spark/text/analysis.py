"""Text analysis library (north star): tokenization stats, quality scoring,
language-ID scoring, fingerprinting — all native expressions (one codegen
stage per feature set, no UDFs, no shuffle except the explicit aggregations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pharmacodi_spark.functions.scalar import int_array_lit
from pharmacodi_spark.operators.partitioning import spread_small_scan

#: space-free-script char class — scripts whose words are NOT whitespace
#: delimited, so splitting on spaces collapses a whole line to one "word"
#: (the silent-degrade VERDICT r8 flagged for CJK/Thai corpora). Hangul is
#: excluded: Korean IS space-delimited. Java regex script syntax for the
#: Spark side; :data:`SPACEFREE_RE2` is the same class in RE2 syntax for
#: DuckDB oracle twins.
_SPACEFREE_JAVA = r"\p{IsHan}\p{IsHiragana}\p{IsKatakana}\p{IsThai}"
SPACEFREE_RE2 = r"\p{Han}\p{Hiragana}\p{Katakana}\p{Thai}"


def normalize_spacefree(col) -> "F.Column":
    """Space-normalized text with every space-free-script char padded into
    its own whitespace-delimited token — the projection that makes the
    ENTIRE split-on-space operator family (minhash shingles, winnowing
    grams, simhash features, repetition grams, surprisal LMs) correct on
    CJK/Thai text without touching any of those operators: run this as a
    stage-0 projection over the scan and every downstream gate sees a
    real token stream instead of one line-sized "word". Whitespace runs
    collapse to single spaces and the result is trimmed, so the output
    obeys the corpus-wide single-space token convention. Two native
    regexes + trim, zero shuffle; DuckDB twin = the same expressions with
    :data:`SPACEFREE_RE2`."""
    c = F.col(col) if isinstance(col, str) else col
    padded = F.regexp_replace(c, f"([{_SPACEFREE_JAVA}])", r" $1 ")
    return F.trim(F.regexp_replace(padded, r"\s+", " "))


def unicode_tokens(col) -> "F.Column":
    """Script-aware token array — the Unicode-correct replacement for the
    split-on-space convention (which is still the documented contract of
    the fixture-oracle gates): every space-free-script char (Han,
    Hiragana, Katakana, Thai) is padded into its own token (the standard
    char-level fallback — real CJK segmentation needs a dictionary;
    char-level keeps every downstream gate meaningful instead of
    collapsing a document to one word), then letter/mark/digit runs are
    extracted with ``\\p{L}\\p{M}\\p{N}`` classes, so accented and
    non-Latin words survive where ``[a-zA-Z]+`` dropped them. Two native
    regex expressions, zero shuffle; DuckDB twin = the same two regexes
    with :data:`SPACEFREE_RE2`."""
    c = F.col(col) if isinstance(col, str) else col
    padded = F.regexp_replace(c, f"([{_SPACEFREE_JAVA}])", r" $1 ")
    return F.regexp_extract_all(padded, F.lit(r"[\p{L}\p{M}\p{N}]+"), 0)


DEFAULT_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"],
    "es": ["el", "la", "de", "y", "en", "que", "los", "un", "por", "con"],
    "de": ["der", "die", "das", "und", "in", "den", "von", "zu", "mit", "ist"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "une"],
}


def token_counts(df: DataFrame, content_col: str = "text") -> DataFrame:
    """Whitespace + BPE-ish token counting: word tokens, subword-ish units
    (runs of ASCII letters/digits/punctuation — a regex approximation of
    byte-pair pretokenization), chars."""
    words = F.split(F.col(content_col), r"\s+")
    subwords = F.regexp_extract_all(
        F.col(content_col), F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0
    )
    return df.withColumns(
        {
            "n_words": F.size(words).cast("long"),
            "n_subword_tokens": F.size(subwords).cast("long"),
            "n_chars_obs": F.length(content_col).cast("long"),
        }
    )


def text_features(df: DataFrame, content_col: str = "text") -> DataFrame:
    """Quality-scoring features: length, word stats, punctuation ratio,
    uppercase ratio, digit ratio, mean word length, repetition ratio
    (distinct/total words) — the usual pretraining-corpus filters."""
    words = F.split(F.col(content_col), r"\s+")
    n_words = F.size(words)
    n_chars = F.length(content_col)
    strip = lambda pat: n_chars - F.length(F.regexp_replace(content_col, pat, ""))  # noqa: E731
    return df.withColumns(
        {
            "n_chars_obs": n_chars.cast("long"),
            "n_words": n_words.cast("long"),
            "punct_ratio": strip(r"[^\p{Punct}]") / F.greatest(n_chars, F.lit(1)),
            "digit_ratio": strip(r"[^0-9]") / F.greatest(n_chars, F.lit(1)),
            "upper_ratio": strip(r"[^A-Z]") / F.greatest(n_chars, F.lit(1)),
            "mean_word_len": (n_chars - n_words + 1) / F.greatest(n_words, F.lit(1)),
            "repetition_ratio": F.size(F.array_distinct(words))
            / F.greatest(n_words, F.lit(1)),
        }
    )


def language_scores(
    df: DataFrame,
    content_col: str = "text",
) -> DataFrame:
    """Language-ID heuristic: per-language ``DEFAULT_STOPWORDS`` hit-rate
    over tokens + argmax prediction. One pass: tokens stay in an array;
    each language score is a filtered array size — no explode, no
    shuffle."""
    stopwords = DEFAULT_STOPWORDS
    words = F.split(F.lower(F.col(content_col)), r"\s+")
    n = F.greatest(F.size(words), F.lit(1))
    out = df
    for lang, sws in stopwords.items():
        sw_arr = F.lit(sws).cast("array<string>")
        hits = F.size(F.filter(words, lambda w: F.array_contains(sw_arr, w)))
        out = out.withColumn(f"score_{lang}", hits / n)
    score_cols = [f"score_{lang}" for lang in stopwords]
    best = F.greatest(*[F.col(c) for c in score_cols])
    pred = None
    for lang in stopwords:
        cond = F.col(f"score_{lang}") == best
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    return out.withColumn("pred_lang", F.when(best > 0, pred).otherwise("unknown"))


def repetition_metrics(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
) -> DataFrame:
    """Gopher/RefinedWeb-style repetition quality gates, per document:

    - ``top_cnt`` / ``top_frac``: occurrences of the single most frequent
      2-gram; fraction = ``2 * top_cnt / n_tokens`` (boilerplate headers,
      SEO keyword stuffing);
    - ``dup_occ`` / ``dup_frac``: fraction of 3-gram OCCURRENCES whose
      gram appears more than once in the doc (template/loop repetition);
    - ``keep``: ``top_frac ≤ 0.20`` and ``dup_frac ≤ 0.30`` — evaluated as
      INTEGER cross-multiplications so the gate is exact in every engine.

    Scale shape (r12): ZERO exchanges — every metric is a per-document
    function of the doc's own gram multiset, so both counts run inside one
    row-local projection (sort the per-doc gram array, run-length scan via
    ``aggregate``) instead of the previous two explode → Exchange(id, gram)
    → Exchange(id) count pipelines joined back on id (guide §2.4: the
    shuffles were structural, not incidental — the groupBy keys were
    per-doc, never corpus-global). Fractions are exact IEEE divisions of
    < 2^53 integers; the run-length counts equal the groupBy counts by
    construction (equal grams are adjacent once sorted).

    ``tokens_col`` names a pre-tokenized array column (e.g. from
    :func:`unicode_tokens` for CJK/Thai corpora — the split-on-space
    default collapses space-free scripts to one token per line); the
    default keeps the fixture-oracle contract.
    """
    top_gram, dup_gram = 2, 3
    toks = (
        F.col(tokens_col)
        if tokens_col is not None
        else F.filter(F.split(F.col(content_col), " "), lambda x: x != "")
    )
    # gram build + sort + two run-length folds are all scan-side CPU;
    # spread a single-split scan first (no-op at corpus scale, r12 §2.5)
    base = spread_small_scan(
        df.select(F.col(id_col), toks.alias("__toks")), id_col
    )

    def sorted_grams(n: int):
        g = F.transform(
            F.sequence(F.lit(1), F.size("__toks") - (n - 1)),
            lambda i: F.array_join(F.slice("__toks", i, n), " "),
        )
        return F.when(F.size("__toks") >= n, F.array_sort(g)).otherwise(
            F.array().cast("array<string>")
        )

    zero = F.lit(0).cast("long")

    def run_init(out_field: str):
        # grams are non-empty strings (tokens are filtered non-empty), so
        # "" can never equal a real gram — a safe "no previous" sentinel
        return F.struct(
            F.lit("").alias("prev"), zero.alias("run"), zero.alias(out_field)
        )

    def next_run(acc, x):
        return F.when(x == acc["prev"], acc["run"] + F.lit(1).cast("long")).otherwise(
            F.lit(1).cast("long")
        )

    def max_run(arr):
        # longest run in the sorted array == max per-gram count
        return F.aggregate(
            arr,
            run_init("best"),
            lambda acc, x: F.struct(
                x.alias("prev"),
                next_run(acc, x).alias("run"),
                F.greatest(acc["best"], next_run(acc, x)).alias("best"),
            ),
            lambda acc: acc["best"],
        )

    def dup_run_sum(arr):
        # total occurrences inside runs of length >= 2: the 2nd element of
        # a run retro-counts the 1st (adds 2), later elements add 1
        return F.aggregate(
            arr,
            run_init("dup"),
            lambda acc, x: F.struct(
                x.alias("prev"),
                next_run(acc, x).alias("run"),
                (
                    acc["dup"]
                    + F.when(
                        x == acc["prev"],
                        F.when(acc["run"] == 1, F.lit(2)).otherwise(F.lit(1)),
                    ).otherwise(F.lit(0))
                )
                .cast("long")
                .alias("dup"),
            ),
            lambda acc: acc["dup"],
        )

    # the metric struct rides a 1:1 explode(array(struct(...))) — a
    # Generate is a predicate-pushdown barrier, so a downstream
    # .where("keep") can NOT sink below the spread exchange with the whole
    # run-length fold substituted into the filter (the r12 curation-s1
    # profile showed exactly that: a 4.7 s single-task stage). The
    # inferred generate filters fold away (size(array(x)) = 1, array()
    # never null), so the plan carries no residue — one parallel
    # evaluation of the fold in every composition.
    out = base.select(
        F.col(id_col),
        F.explode(
            F.array(
                F.struct(
                    F.size("__toks").cast("long").alias("n_tokens"),
                    max_run(sorted_grams(top_gram)).alias("top_cnt"),
                    dup_run_sum(sorted_grams(dup_gram)).alias("dup_occ"),
                    F.greatest(F.size("__toks") - (dup_gram - 1), F.lit(0))
                    .cast("long")
                    .alias("n_grams"),
                )
            )
        ).alias("__m"),
    ).select(id_col, "__m.*")
    # integer cross-multiplied gates: frac <= cap (in percent) without fp
    # comparison
    top_scale, dup_scale = 20, 30
    return out.select(
        "*",
        F.when(
            F.col("n_tokens") > 0,
            (F.lit(top_gram) * F.col("top_cnt")).cast("double")
            / F.col("n_tokens"),
        )
        .otherwise(F.lit(0.0))
        .alias("top_frac"),
        F.when(
            F.col("n_grams") > 0,
            F.col("dup_occ").cast("double") / F.col("n_grams"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
        (
            (
                F.lit(100 * top_gram) * F.col("top_cnt")
                <= F.lit(top_scale) * F.col("n_tokens")
            )
            & (
                F.lit(100) * F.col("dup_occ")
                <= F.lit(dup_scale) * F.col("n_grams")
            )
        ).alias("keep"),
    )


def source_quality_rollup(
    df: DataFrame,
    group_col: str = "source",
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Source/domain-level quality aggregation — the RefinedWeb/C4 idea
    that document filters should also roll up to their ORIGIN: a source
    whose documents mostly fail the per-doc gates is itself suspect, and
    dropping it wholesale removes the long tail its surviving documents
    would drag in.

    Per ``group_col``: ``n_docs``, ``n_kept`` (the Gopher repetition
    gate), ``keep_ppm`` (integer parts-per-million), mean token count,
    and ``source_ok`` = ``keep_ppm ≥ 500000`` (integer
    cross-multiplication — engine-exact). Feed the flagged sources to an
    anti-join to apply the rollup (:func:`source_level_filter`).

    Scale shape: the per-doc gate pipeline (shuffles keyed by (id, gram)
    then id), then ONE aggregate keyed by source — the source table is
    domain-cardinality (tiny); no bodies shuffle.
    """
    per_doc = repetition_metrics(df, content_col, id_col).select(
        id_col, "n_tokens", "keep"
    )
    src = df.select(F.col(id_col), F.col(group_col))
    return (
        src.join(per_doc, id_col)
        .groupBy(group_col)
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.col("keep").cast("int")).cast("long").alias("n_kept"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .select(
            group_col,
            "n_docs",
            "n_kept",
            "n_tokens",
            F.expr("(n_kept * 1000000) div n_docs").cast("long").alias(
                "keep_ppm"
            ),
            (
                F.col("n_kept") * 1_000_000
                >= F.lit(500_000) * F.col("n_docs")
            ).alias("source_ok"),
        )
    )


def source_level_filter(
    df: DataFrame,
    rollup: DataFrame,
    group_col: str = "source",
) -> DataFrame:
    """Apply a :func:`source_quality_rollup`: keep only documents whose
    source passed. The ok-source set is domain-cardinality — the semi-join
    side broadcasts, so the corpus never shuffles."""
    ok = rollup.where("source_ok").select(group_col)
    return df.join(F.broadcast(ok), group_col, "left_semi")


def hashed_linear_score(
    df: DataFrame,
    weights: list[int] | None = None,
    dim: int = 4096,
    salt: str = "q",
    content_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
) -> DataFrame:
    """Model-based quality filtering, fasttext/DCLM-style: a LINEAR
    classifier over hashing-trick bag-of-words features, run as columnar
    expressions — the shape under every "quality classifier" stage in
    modern pretraining pipelines (fasttext is exactly a linear model over
    hashed n-gram features).

    Each token maps to feature ``idx = md5(salt‖token) mod dim``; the
    document score is the mean feature weight over token occurrences
    (integer centi-units), and ``keep`` = ``mean ≥ 0`` evaluated as the
    integer cross-multiplication ``100·sum ≥ 0·n``.

    ``weights``: the trained weight vector (length ``dim``, centi-unit
    ints) — rides as ONE array literal, indexed per token with
    ``element_at`` (no join at all). ``weights=None`` derives each
    weight deterministically from its index hash (``md5`` again) — a
    random-projection stand-in that keeps the whole path oracle-
    expressible end-to-end; swap in real exported fasttext/logreg
    weights for production.

    Scale shape: ZERO shuffles to score (hash + element_at + per-row
    fold would need the token array only; the per-doc aggregate after
    explode shuffles (id, int) pairs) — here we keep it explode-free:
    tokens stay in their array and the score is a native ``aggregate``
    fold per document, so the corpus never leaves its scan partitions.
    """
    assert dim >= 1
    # tokens_col: pre-tokenized array seam (CJK via unicode_tokens)
    toks = (
        F.filter(F.col(tokens_col), lambda x: x != "")
        if tokens_col is not None
        else F.filter(F.split(F.col(content_col), " "), lambda x: x != "")
    )

    def idx_of(tok) -> Column:
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), tok)), 1, 15), 16, 10
        ).cast("long") % dim

    if weights is None:
        # r12 (guide §1.2): the derived weight is a fixed function of the
        # feature index — dim md5s once at plan-build (hashlib bit-matches
        # Spark's md5), not one EXTRA md5 per token occurrence at
        # execution; the array constant-folds exactly like injected
        # production weights and every emitted integer is unchanged
        import hashlib

        weights = [
            int(hashlib.md5(f"w{i}".encode()).hexdigest()[:15], 16) % 2001
            - 1000
            for i in range(dim)
        ]
    assert len(weights) == dim
    # single-node literal: F.lit(list) is a dim-child CreateArray that
    # every optimizer rule re-walks per plan build (r12, guide §1.2)
    warr = int_array_lit(weights)
    weight_of = lambda tok: F.element_at(  # noqa: E731
        warr, (idx_of(tok) + 1).cast("int")
    ).cast("long")
    score = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + weight_of(t)
    )
    n = F.size(toks)
    # two-step projection: the md5 fold and size() evaluate ONCE and the
    # keep gate reads the aliases — inlined in one select, CollapseProject
    # would hand the non-cheap fold to both score_centi and keep (r12)
    # one md5 + element_at per token, all scan-side: spread a single-split
    # scan before scoring (no-op at corpus scale, r12 §2.5)
    scored = spread_small_scan(
        df.select(F.col(id_col), F.col(tokens_col or content_col)), id_col
    ).select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        score.alias("score_centi"),
    )
    return scored.select(
        id_col,
        "n_tokens",
        "score_centi",
        F.when(
            F.col("n_tokens") > 0,
            100 * F.col("score_centi")
            >= F.lit(0) * F.col("n_tokens"),
        )
        .otherwise(F.lit(False))
        .alias("keep"),
    )


def hashed_lang_id(
    df: DataFrame,
    langs: list[str],
    weights: dict[str, list[int]] | None = None,
    dim: int = 4096,
    content_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
) -> DataFrame:
    """Fasttext-shaped language-ID head (VERDICT r7 item 6): a MULTI-CLASS
    linear classifier over hashing-trick bag-of-words features — one
    weight vector per candidate language, argmax wins (ties → the
    lexicographically smallest language, so every engine agrees). This is
    exactly fasttext's lang-id architecture (linear over hashed n-gram
    features), upgrading the fixed-stopword heuristic
    (:func:`language_scores`): coverage is whatever the injected weights
    were trained on, not a hand-curated stopword table.

    Each token maps to feature ``idx = md5('lid'‖token) mod dim`` ONCE
    (materialized as an int array — not re-hashed per language);
    per language, the score is the sum of its weights at those indices
    (integer centi-units). ``weights``: ``{lang: [w_0..w_{dim-1}]}`` —
    exported model weights riding as per-language array literals.
    ``weights=None`` derives ``w_lang[i] = md5('w'‖lang‖':'‖i) % 2001 −
    1000`` — a deterministic stand-in that keeps the whole path
    oracle-expressible; swap in real weights for production. Token-less
    documents predict ``'und'``.

    Returns every input column plus ``(n_tokens, pred_lang,
    best_score_centi)``.

    Scale shape: explode-free — ONE md5 per token into the index array,
    then |langs| native folds per row; the corpus never leaves its scan
    partitions, ZERO shuffles. The weight tables ride as constant-folded
    literals (|langs|·dim ints), never a join.
    """
    assert langs == sorted(langs), "langs must be sorted (tie-break order)"
    assert dim >= 1
    if weights is None:
        # r12 (guide §1.2 per-task work): the deterministic stand-in
        # weights are a fixed function of (lang, index) — |langs|·dim md5s
        # computed ONCE at plan-build time (hashlib bit-matches Spark's
        # md5), instead of one md5 per TOKEN per LANGUAGE at execution.
        # The arrays constant-fold to literal ArrayData exactly like
        # injected production weights; every emitted integer is unchanged.
        import hashlib

        weights = {
            lang: [
                int(
                    hashlib.md5(f"w{lang}:{i}".encode()).hexdigest()[:15], 16
                )
                % 2001
                - 1000
                for i in range(dim)
            ]
            for lang in langs
        }
    # tokens_col: pre-tokenized array seam (CJK via unicode_tokens) — on
    # space-split an unspaced CJK doc is ONE token, so lang-id sees a
    # single out-of-vocabulary feature and degenerates silently
    toks = (
        F.filter(F.col(tokens_col), lambda x: x != "")
        if tokens_col is not None
        else F.filter(F.split(F.col(content_col), " "), lambda x: x != "")
    )
    idx_arr = F.transform(
        toks,
        lambda t: (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("lid"), t)), 1, 15), 16, 10
            ).cast("long")
            % dim
        ).cast("int"),
    )

    def weight_of(lang: str):
        assert len(weights[lang]) == dim
        # single-node literal per language — F.lit(list) is a dim-child
        # CreateArray every optimizer rule re-walks (r12, guide §1.2)
        warr = int_array_lit(weights[lang])
        return lambda i: F.element_at(warr, i + 1).cast("long")

    # materialize the index array in its own projection so the |langs|
    # folds + the size() reference share ONE evaluation — CollapseProject
    # keeps a non-cheap alias referenced more than once in its own
    # Project, so the md5 stream runs once per token, not once per
    # consumer (r12; the r5 lambda-re-evaluation lesson applied here)
    # one md5 per token + |langs| folds, all scan-side: spread a
    # single-split scan first (no-op at corpus scale, r12 §2.5); every
    # input column rides through (the contract returns *df.columns)
    indexed = spread_small_scan(df, id_col).select(
        "*", idx_arr.alias("__idx")
    )
    scored = indexed.select(
        "*",
        F.size(F.col("__idx")).cast("long").alias("n_tokens"),
        F.array(
            *[
                F.struct(
                    (
                        -F.aggregate(
                            F.col("__idx"),
                            F.lit(0).cast("long"),
                            lambda acc, i: acc + weight_of(lang)(i),
                        )
                    ).alias("ns"),
                    F.lit(lang).alias("l"),
                )
                for lang in langs
            ]
        ).alias("__sc"),
    )
    best = F.array_min(F.col("__sc"))
    return scored.select(
        *df.columns,
        "n_tokens",
        F.when(F.col("n_tokens") > 0, best["l"])
        .otherwise(F.lit("und"))
        .alias("pred_lang"),
        F.when(F.col("n_tokens") > 0, -best["ns"])
        .otherwise(F.lit(0))
        .cast("long")
        .alias("best_score_centi"),
    )


def tokenizer_fertility(
    df: DataFrame,
    group_col: str = "source",
    content_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """Tokenizer fertility audit per origin: how many subword-ish tokens
    the pre-tokenizer emits per whitespace word and how many characters
    each token covers — THE tokenizer-evaluation table (a source whose
    fertility spikes is script/markup the tokenizer fragments, and its
    token budget is under-counted by word-level estimates).

    Per ``group_col``: doc/word/token/char totals plus two integer
    fixed-point ratios (×100, floor): ``tokens_per_100_words`` and
    ``chars_per_100_tokens`` — integer division keeps every engine
    bit-identical.

    Scale shape: counting is per-row native expressions (regexp count +
    size; the token arrays never leave the scan), then ONE aggregate keyed
    by the domain-cardinality group — no explode, no fact-scale shuffle.
    """
    toks = F.regexp_extract_all(
        content_col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0
    )
    # tokens_col: pre-tokenized WORD array seam (CJK via unicode_tokens);
    # the denominator of tokens_per_100_words is whitespace-degenerate on
    # unspaced scripts (1 "word" per doc inflates fertility ∞-ward)
    words = (
        F.filter(F.col(tokens_col), lambda x: x != "")
        if tokens_col is not None
        else F.filter(F.split(F.col(content_col), " "), lambda x: x != "")
    )
    per_doc = df.select(
        F.col(group_col),
        F.size(words).cast("long").alias("__w"),
        F.size(toks).cast("long").alias("__t"),
        F.length(content_col).cast("long").alias("__c"),
    )
    return (
        per_doc.groupBy(group_col)
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("__w").cast("long").alias("n_words"),
            F.sum("__t").cast("long").alias("n_tokens"),
            F.sum("__c").cast("long").alias("n_chars"),
        )
        .select(
            group_col,
            "n_docs",
            "n_words",
            "n_tokens",
            "n_chars",
            F.expr("(n_tokens * 100) div greatest(n_words, 1)")
            .cast("long")
            .alias("tokens_per_100_words"),
            F.expr("(n_chars * 100) div greatest(n_tokens, 1)")
            .cast("long")
            .alias("chars_per_100_tokens"),
        )
    )


def lang_confusion(
    df: DataFrame,
    claimed_col: str = "lang",
    content_col: str = "text",
    scored: DataFrame | None = None,
) -> DataFrame:
    """Claimed-vs-detected language confusion rollup: run the stopword
    language-ID (:func:`language_scores`) and aggregate into a confusion
    table per claimed label — the catch-the-mislabeled-crawl audit (a
    "de" source whose rows mostly detect as "en" was tagged by TLD, not
    content; a language with no detector coverage shows up as a solid
    ``unknown`` row rather than silently polluting another bucket).

    Per (claimed, predicted): ``n_docs`` and ``share_ppm`` — the integer
    parts-per-million share within the claimed label.

    Scale shape: the per-doc detector is explode-free (filtered array
    sizes in the scan stage); ONE aggregate keyed by the (claimed,
    predicted) pair — label-cardinality² rows — then the share window
    runs on that metadata-scale rollup.

    ``scored`` injects a pre-scored frame (any detector emitting a
    ``pred_lang`` column alongside ``claimed_col`` — e.g.
    :func:`hashed_lang_id`'s fasttext-shaped head) in place of the default
    stopword detector.
    """
    # claimed_col is interpolated into a SQL window expression (integer
    # `div` has no Column API) — reject non-identifier names instead of
    # emitting malformed SQL (the r5 skew_profile interpolation lesson)
    assert claimed_col.isidentifier(), claimed_col
    if scored is None:
        scored = language_scores(df, content_col=content_col)
    roll = scored.groupBy(F.col(claimed_col), F.col("pred_lang")).agg(
        F.count("*").cast("long").alias("n_docs")
    )
    return roll.select(
        F.col(claimed_col),
        "pred_lang",
        "n_docs",
        F.expr(
            f"(n_docs * 1000000) div sum(n_docs) over "
            f"(partition by {claimed_col})"
        )
        .cast("long")
        .alias("share_ppm"),
    )


def token_entropy(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    min_bits_fp: int = 2 << 10,
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-document token-distribution Shannon entropy — the
    gibberish/repetitiveness gate (low entropy = a few tokens dominate:
    keyboard mashing, template spam, lorem-ipsum loops; complements
    :func:`repetition_metrics`, which looks at n-gram repeats rather than
    the unigram distribution shape).

    All-integer fixed point (10 fractional bits, shared with
    ``retrieval.ilog2_fp``): the UNNORMALIZED entropy
    ``N·H·2^10 = N·il(N) − Σ c·il(c)`` is exact integer arithmetic, so
    the gate ``entropy_fp >= min_bits_fp · N`` (per-token entropy ≥
    ``min_bits_fp/2^10`` bits) is an integer cross-multiplication —
    bit-identical in every engine, no libm.

    Scale shape (100 TB): explode → (id, token) count with map-side
    partial aggregation → per-doc aggregate; shuffle keys are
    ``(id, token)`` then ``id`` — no corpus-global state, no window.
    ``il`` is applied post-aggregation (one expression per group row).
    Int64-safe while ``N·il(N) < 2^63`` — i.e. any document under
    ~10^14 tokens.
    """
    from pharmacodi_spark.text.retrieval import ilog2_fp

    # tokens_col: pre-tokenized array seam (CJK via unicode_tokens) — on
    # space-split an unspaced CJK doc is ONE token with entropy 0, so the
    # gate rejects perfectly fine text (or passes junk) for the wrong reason
    toks = (
        F.filter(F.col(tokens_col), lambda x: x != "")
        if tokens_col is not None
        else F.filter(F.split(F.col(content_col), " "), lambda x: x != "")
    )
    counts = (
        df.select(F.col(id_col), F.explode(toks).alias("__tok"))
        .groupBy(id_col, "__tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = counts.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.col("c") * ilog2_fp(F.col("c"))).cast("long").alias("__s"),
    )
    stats = per_doc.select(
        id_col,
        "n_tokens",
        "n_distinct",
        (F.col("n_tokens") * ilog2_fp(F.col("n_tokens")) - F.col("__s"))
        .cast("long")
        .alias("entropy_fp"),
    )
    # docs whose content is all-separator produce no token rows: surface
    # them with zero counts and a failing gate instead of dropping them
    out = df.select(F.col(id_col)).join(stats, id_col, "left")
    return out.select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("n_distinct", F.lit(0)).cast("long").alias("n_distinct"),
        F.coalesce("entropy_fp", F.lit(0)).cast("long").alias("entropy_fp"),
        (
            (F.coalesce("n_tokens", F.lit(0)) > 0)
            & (
                F.coalesce("entropy_fp", F.lit(0))
                >= F.lit(int(min_bits_fp)) * F.coalesce("n_tokens", F.lit(0))
            )
        ).alias("keep"),
    )
