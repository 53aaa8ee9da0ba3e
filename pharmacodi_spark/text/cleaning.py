"""Corpus cleaning ops (north star): boilerplate removal and PII redaction.

The C4/RefinedWeb-family cleanup steps a training-data pipeline runs before
dedup: strip lines that repeat across many documents (nav bars, cookie
banners), detect repeated spans, and redact PII patterns (emails, phones,
IPs) — all as native expressions; hashing for the cross-document frequency
counts stays JVM-side (md5), shuffles carry (hash, count) pairs only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pharmacodi_spark.operators.partitioning import spread_small_scan
from pharmacodi_spark.text.corpus import ngram_col

# pattern, replacement — the common Java-regex/RE2 subset so the same
# pattern strings run under Spark (Java) and any RE2-based engine
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\+?\d{3}[- .]\d{3}[- .]\d{4}", "[PHONE]"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
]

# the boilerplate and shared-span filters: a line or span is shared once it
# occurs in this many documents; spans are this many tokens long
_MIN_DF = 2
_SPAN_LEN = 5


def redact_pii(
    df: DataFrame,
    content_col: str = "text",
    out_col: str | None = None,
) -> DataFrame:
    """Replace ``PII_PATTERNS`` matches with typed placeholders; adds
    ``{out_col}`` and a ``n_redactions`` count (pre/post length is not a
    reliable count, so the count comes from tallying matches before
    replacement). Pure
    ``regexp_replace``/``regexp_count`` chain — codegen, no UDF."""
    out_col = out_col or f"{content_col}_redacted"
    redacted = F.col(content_col)
    n = F.lit(0).cast("long")
    for pat, repl in PII_PATTERNS:
        n = n + F.regexp_count(F.col(content_col), F.lit(pat))
        redacted = F.regexp_replace(redacted, pat, repl)
    return df.withColumn(out_col, redacted).withColumn("n_redactions", n)


def strip_repeated_lines(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove lines that appear (identically) in ≥ ``_MIN_DF`` documents —
    the line-level boilerplate filter. Returns (id, cleaned, n_removed).

    Shape: explode lines with position → md5 line-hash → cross-doc distinct
    count (the shuffle carries 32-byte hashes) → keep lines under the
    threshold → reassemble in original order with a per-doc sort inside one
    aggregation. No global window, no Python."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(content_col), "\n")).alias("pos", "line"),
    ).withColumn("h", F.md5("line"))
    # only the FREQUENT lines (the boilerplate set — tiny relative to the
    # corpus) are broadcast; broadcasting the full line vocabulary would not
    # survive corpus scale
    boiler = (
        lines.select("h", id_col)
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("line_df"))
        .where(F.col("line_df") >= _MIN_DF)
    )
    tagged = lines.join(F.broadcast(boiler), "h", "left")
    kept = tagged.where(F.col("line_df").isNull())
    removed = tagged.where(F.col("line_df").isNotNull())
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("cleaned")
    )
    n_removed = removed.groupBy(id_col).agg(F.count("*").alias("n_removed"))
    base = df.select(id_col)
    return (
        base.join(reassembled, id_col, "left")
        .join(n_removed, id_col, "left")
        .select(
            id_col,
            F.coalesce("cleaned", F.lit("")).alias("cleaned"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
        )
    )


def scrub_shared_spans(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring scrubbing: remove every token covered by a span
    (``_SPAN_LEN``-gram) that also occurs in ≥ ``_MIN_DF`` documents, keeping
    the rest of the document intact — the suffix-automaton-free substring
    dedup (the ``repeated_span_stats`` signal turned into an edit). Returns
    (id, scrubbed, n_tokens, n_masked).

    Shape (r12): the only corpus-global fact is the SHARED span-hash set;
    everything else is a per-document function, so it stays row-local.
    Span hashes dedup inside the per-doc array (array_distinct) and one
    map-side-combined groupBy(h) counts document frequency (the previous
    shape paid distinct + groupBy = two full span-stream exchanges);
    matching span STARTS come back as one collect_list per doc (hit mass
    only); the covered-position mask, the token filter, the reassembly and
    both counts happen inside one projection over the tokenized doc —
    tokens never ride any shuffle (the previous shape shuffled the full
    (id, pos, token) stream twice: the anti-join and the collect_list
    reassembly). Guide §2.3/§2.4 + §8 (decide with small rows — hashes
    and starts; never move the payload)."""
    span_len = _SPAN_LEN
    toks_expr = F.split(F.col(content_col), r"\s+")
    # spread a single-split scan before the span-hash work (no-op at
    # corpus scale, §2.5); the identical exchange under the three docs
    # consumers ReuseExchange-dedups into one scan + one shuffle (r12)
    docs = spread_small_scan(
        df.select(F.col(id_col), toks_expr.alias("toks")), id_col
    )
    n = F.size("toks")
    starts = F.sequence(
        F.lit(1), F.greatest(n - (span_len - 1), F.lit(1))
    )
    span_arr = F.transform(
        starts,
        lambda s: F.md5(F.array_join(F.slice(F.col("toks"), s, span_len), " ")),
    )
    # document frequency per span hash: per-doc distinct in-array, then ONE
    # exchange with map-side partial counts (rows-per-doc = distinct spans)
    shared = (
        docs.select(F.col(id_col), F.explode(F.array_distinct(span_arr)).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("span_df"))
        .where(F.col("span_df") >= _MIN_DF)
        .select("h")
    )
    # per-doc hit starts: spans that are shared, as ONE array per doc
    spans = docs.select(
        F.col(id_col), F.posexplode(span_arr).alias("s0", "h")
    )
    hit_starts = (
        spans.join(shared, "h")
        .groupBy(id_col)
        .agg(F.collect_list(F.col("s0") + 1).alias("__ss"))
    )
    # row-local scrub: covered mask from the hit starts, filter tokens by
    # position, reassemble and count in the same projection
    masked = docs.join(hit_starts, id_col, "left")
    cov = F.coalesce(
        F.array_distinct(
            F.flatten(
                F.transform(
                    "__ss", lambda s: F.sequence(s, s + (span_len - 1))
                )
            )
        ),
        F.array().cast("array<int>"),
    )
    return masked.select(
        F.col(id_col),
        F.array_join(
            F.filter(
                F.col("toks"), lambda t, i: ~F.array_contains(cov, i + 1)
            ),
            " ",
        ).alias("scrubbed"),
        n.cast("long").alias("n_tokens"),
        F.size(
            F.filter(cov, lambda p: (p >= 1) & (p <= n))
        ).cast("long").alias("n_masked"),
    )


def repeated_span_stats(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document count/fraction of token spans (``_SPAN_LEN``-grams) that
    also occur in ≥ ``_MIN_DF`` documents — the exact-substring duplication
    signal used for contamination checks and boilerplate scoring when the
    corpus has no line structure. All counting on md5 span hashes.

    Shape (r12): document frequency comes from per-doc in-array distinct
    hashes through ONE map-side-combined groupBy(h) (was distinct +
    groupBy — two full span-stream exchanges); the per-doc totals are
    row-local (``size``), so the only other exchanges are the shared-span
    join and a hit-mass groupBy(id) — the full span stream never pays a
    per-(id, h) exchange (guide §2.3/§2.4)."""
    # spread a single-split scan below the span-md5 projection (no-op at
    # corpus scale, §2.5); the exchange is shared by all three docs
    # consumers via ReuseExchange, the projection above it parallelizes
    docs = spread_small_scan(
        df.select(F.col(id_col), F.col(content_col)), id_col
    ).select(
        F.col(id_col),
        F.transform(ngram_col(content_col, _SPAN_LEN), F.md5).alias("__hs"),
    )
    # shared spans only (df ≥ _MIN_DF); joined by shuffle, not broadcast —
    # unlike line boilerplate, the shared-span set of a web corpus can be
    # a large fraction of the span vocabulary
    shared = (
        docs.select(F.col(id_col), F.explode(F.array_distinct("__hs")).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("span_df"))
        .where(F.col("span_df") >= _MIN_DF)
        .select("h")
    )
    hits = (
        docs.select(F.col(id_col), F.explode("__hs").alias("h"))
        .join(shared, "h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return (
        docs.select(F.col(id_col), F.size("__hs").cast("long").alias("n_spans"))
        .join(hits, id_col, "left")
        .select(
            id_col,
            "n_spans",
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            (
                F.coalesce("n_shared", F.lit(0)).cast("double") / F.col("n_spans")
            ).alias("shared_frac"),
        )
    )


def ngram_hash_rows(
    df: DataFrame,
    content_col: str,
    id_col: str,
    n: int,
    tokens_col: str | None,
    distinct_per_doc: bool = False,
) -> DataFrame:
    """(id, gh) rows: one md5 hash per ``n``-gram window over the
    non-empty space-split tokens — the shared gram stage of the
    decontamination family and the curation cascades' eval index (bodies
    never leave the projection; only 32-byte hashes flow downstream).

    ``distinct_per_doc`` dedups the grams INSIDE the per-doc array
    (``array_distinct``) before the explode — row-for-row identical to
    ``.distinct()`` on the output (the id is part of every row, so the
    global distinct was always per-doc), WITHOUT the full (id, gh)
    exchange that distinct pays (r12, guide §2.4). Callers that count
    gram multiplicity must leave it off."""
    toks = (
        F.filter(F.col(tokens_col), lambda x: x != "")
        if tokens_col is not None
        else F.filter(F.split(F.col(content_col), " "), lambda x: x != "")
    )
    g = F.transform(
        F.sequence(F.lit(1), F.size("__toks") - (n - 1)),
        lambda i: F.md5(F.array_join(F.slice("__toks", i, n), " ")),
    )
    if distinct_per_doc:
        g = F.array_distinct(g)
    return (
        df.select(F.col(id_col), toks.alias("__toks"))
        .where(F.size("__toks") >= n)
        .select(id_col, F.explode(g).alias("gh"))
    )


def _spread_gram_rows(
    df: DataFrame,
    content_col: str,
    id_col: str,
    n: int,
    tokens_col: str | None,
    distinct_per_doc: bool = False,
) -> DataFrame:
    """:func:`ngram_hash_rows` for the decontamination family: the
    per-gram md5 stream is its dominant CPU term and sits directly on the
    scan — spread a single-split scan before it (no-op at corpus scale;
    guide §2.5, r12). The curation stream and its batch twin call
    :func:`ngram_hash_rows` unspread: measured, the spread adds a job to
    some micro-batches and saves none overall."""
    base = spread_small_scan(
        df.select(F.col(id_col), F.col(tokens_col or content_col)), id_col
    )
    return ngram_hash_rows(
        base, content_col, id_col, n, tokens_col, distinct_per_doc
    )


def decontaminate_against(
    train: DataFrame,
    eval_df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    tokens_col: str | None = None,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3 13-gram rule): flag training
    documents sharing any ``n``-gram with the evaluation set.

    Output: one row per TRAIN document — (id, n_collisions = distinct
    colliding n-grams, contaminated). Eval n-grams collapse to a DISTINCT
    hash set first (benchmarks are tiny next to the corpus, so the semi-join
    side broadcasts or at worst shuffles md5 keys); train side ships
    (id, gram-hash) pairs only — document bodies never shuffle. At 100 TB
    the eval-gram table is a reusable sidecar index: build once, semi-join
    every corpus refresh against it.

    ``tokens_col`` names a pre-tokenized array column present on BOTH
    frames (e.g. from analysis.unicode_tokens) — the CJK seam: split on
    space, an unspaced CJK line is ONE "token", 13-grams never form, and
    benchmark contamination passes silently (the r8 silent-degradation
    class; VERDICT r10 item 4 ranked this op highest-stakes).
    """
    def gram_rows(df: DataFrame) -> DataFrame:
        return _spread_gram_rows(df, content_col, id_col, n, tokens_col)

    # the eval gram set is benchmark-sized by definition — hint it so the
    # semi-join stays broadcast even when the eval frame has no stats
    # (a literal/derived frame statically plans SortMergeJoin otherwise)
    eval_grams = F.broadcast(gram_rows(eval_df).select("gh").distinct())
    # r12: the train-side dedup happens INSIDE the per-doc gram array
    # (distinct_per_doc) instead of a corpus-wide (id, gh) distinct — the
    # query's dominant exchange disappears; the broadcast semi-join runs
    # map-side and only ~1 partial-count row per colliding doc reaches
    # the groupBy exchange (guide §2.3/2.4)
    hits = (
        _spread_gram_rows(
            train, content_col, id_col, n, tokens_col, distinct_per_doc=True
        )
        .join(eval_grams, "gh", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_collisions"))
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_collisions", F.lit(0)).cast("long").alias("n_collisions"),
            (F.coalesce("n_collisions", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def bloom_decontaminate_against(
    train: DataFrame,
    eval_df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
    n_bits: int = 1 << 20,
    n_hashes: int = 3,
    bitmap: "tuple[list[int], int] | None" = None,
) -> DataFrame:
    """:func:`decontaminate_against` with a Bloom prefilter on the train
    gram stream — EXACTLY the same output (oracle-certified), different
    physical shape for the 100 TB leg: the eval gram set packs into an
    ``n_bits``-bit bitmap sidecar (operators/bloom.py — build once per
    benchmark refresh, persist next to the eval set via
    save_bloom_bitmap), and every train gram hash failing any of the k
    bit tests is dropped INSIDE the scan stage, before the
    per-(id, gram) distinct. That distinct's exchange is the query's
    dominant shuffle — all corpus grams in the exact form — and under
    the prefilter it carries only true collisions plus the ~1% false-
    positive band, i.e. mass ∝ contamination, not corpus size. False
    negatives are impossible (a Bloom property), so the surviving
    candidates' broadcast semi-join against the real eval hashes
    restores exactness — the bloom_prefilter_semi_join contract, applied
    to the highest-stakes filter in the curation family.

    Sizing: ~10 bits per distinct eval gram for a ~1% fp rate at k=3;
    a 1M-gram benchmark suite fits in 1.25 MB of bitmap literal.

    ``bitmap``: a pre-built ``(words, n_hashes)`` pair — pass
    ``load_bloom_bitmap`` output to reuse the persisted sidecar instead
    of re-aggregating the eval grams per corpus refresh (build once
    when the benchmark suite changes, screen every refresh); it MUST
    have been built over the same 13-gram md5 hashes
    (``ngram_hash_rows`` of the same eval set), since a mismatched
    bitmap silently filters the wrong key space."""
    from pharmacodi_spark.operators.bloom import (
        bloom_condition,
        build_bloom_bitmap,
    )

    eval_grams = (
        _spread_gram_rows(eval_df, content_col, id_col, 13, tokens_col)
        .select("gh")
        .distinct()
    )
    if bitmap is not None:
        words, n_hashes = bitmap
    else:
        words = build_bloom_bitmap(eval_grams, "gh", n_bits, n_hashes)
    # r12: per-doc array_distinct replaces the corpus-wide candidate
    # distinct (same rows — the id rides every row), so under the bloom
    # prefilter NO full gram exchange remains at all
    cand = _spread_gram_rows(
        train, content_col, id_col, 13, tokens_col, distinct_per_doc=True
    ).where(bloom_condition(words, F.col("gh"), n_hashes))
    hits = (
        cand
        .join(F.broadcast(eval_grams), "gh", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_collisions"))
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_collisions", F.lit(0))
            .cast("long")
            .alias("n_collisions"),
            (F.coalesce("n_collisions", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def strip_source_boilerplate(
    df: DataFrame,
    prefix_tokens: int = 5,
    min_share_ppm: int = 300_000,
    group_col: str = "source",
    content_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "stripped_text",
    tokens_col: str | None = None,
) -> DataFrame:
    """Site-template removal: if ≥ ``min_share_ppm`` of an origin's
    documents open with the SAME ``prefix_tokens``-token prefix, that
    prefix is the source's boilerplate header (nav bars, licence
    blurbs, crawler banners) — strip it from the matching documents.
    The per-SOURCE sibling of :func:`strip_repeated_lines` (which needs
    line structure) and the prefix analogue of the CCNet passage rule.

    Exact and deterministic: the dominant prefix per source is the
    (count, prefix) maximum (ties → lexicographic prefix); the share
    gate is the integer cross-multiplication ``share·10⁶ ≥
    min_share_ppm·n_docs``.  Output keeps every row and adds
    ``(out_col, boilerplate_stripped)``.

    Scale shape: prefixes are computed in the scan projection (slice +
    join — no explode); ONE count aggregate keyed by (source, prefix)
    collapses map-side; the winning-prefix table is domain-cardinality
    and broadcasts back.

    ``tokens_col`` names a pre-tokenized array column (e.g. from
    analysis.unicode_tokens) — the CJK seam: an unspaced CJK header is
    one space-token, so every doc of a source shares the degenerate
    1-token "prefix" and template detection collapses. In seam mode the
    stripped output is the remaining tokens space-joined (stripping
    operates in TOKEN space).
    """
    toks = (
        F.filter(F.col(tokens_col), lambda x: x != "")
        if tokens_col is not None
        else F.filter(F.split(F.col(content_col), " "), lambda x: x != "")
    )
    pfx = F.array_join(F.slice(toks, 1, prefix_tokens), " ")
    base = df.withColumn("__pfx", pfx)
    counts = base.groupBy(group_col, "__pfx").agg(
        F.count("*").cast("long").alias("__c")
    )
    w = Window.partitionBy(group_col).orderBy(
        F.desc("__c"), F.asc("__pfx")
    )
    tot = Window.partitionBy(group_col)
    top = (
        counts.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.sum("__c").over(tot))
        .where(
            (F.col("__rn") == 1)
            & (F.col("__c") * 1_000_000 >= int(min_share_ppm) * F.col("__n"))
        )
        .select(group_col, F.col("__pfx").alias("__bp"))
    )
    joined = base.join(F.broadcast(top), group_col, "left")
    hit = F.col("__bp").isNotNull() & (F.col("__pfx") == F.col("__bp"))
    stripped = F.array_join(
        F.slice(toks, prefix_tokens + 1, F.greatest(F.size(toks) - prefix_tokens, F.lit(0))),
        " ",
    )
    return joined.select(
        *df.columns,
        F.when(hit, stripped).otherwise(F.col(content_col)).alias(out_col),
        hit.alias("boilerplate_stripped"),
    )


def phrase_blocklist_hits(
    df: DataFrame,
    phrases: list[str],
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document occurrence counts for a list of literal phrases — the
    synthetic-contamination / template gate ("as an AI language model",
    "lorem ipsum", cookie-banner strings). A doc with any hit usually gets
    dropped or routed to review.

    Counting trick: non-overlapping occurrences of phrase ``p`` are
    ``(length(text) − length(replace(text, p, ''))) / length(p)`` — plain
    string arithmetic every engine evaluates identically (no regex dialect
    surface, unlike ``regexp_count``), fully codegen'd, ZERO shuffle: one
    projection over the scan, one expression per phrase. At 1000 phrases
    prefer an Aho–Corasick pass in a mapInPandas seam; for the typical
    dozens-long curated blocklist the expression form wins (no Python
    boundary).

    Returns ``(id, n_hits, n_phrases_hit, keep)`` — ``keep`` iff no
    phrase occurs.
    """
    assert phrases and all(p for p in phrases)
    t = F.col(content_col)
    counts = [
        (
            (F.length(t) - F.length(F.replace(t, F.lit(p), F.lit(""))))
            / F.lit(len(p))
        ).cast("long")
        for p in phrases
    ]
    total = counts[0]
    distinct_hit = F.when(counts[0] > 0, 1).otherwise(0)
    for c in counts[1:]:
        total = total + c
        distinct_hit = distinct_hit + F.when(c > 0, 1).otherwise(0)
    return df.select(
        F.col(id_col),
        total.alias("n_hits"),
        distinct_hit.cast("long").alias("n_phrases_hit"),
        (total == 0).alias("keep"),
    )


def build_aho_corasick(
    phrases: list[str],
) -> tuple[list[dict[str, int]], list[int], list[list[int]]]:
    """Build the Aho–Corasick automaton for a literal-phrase list:
    ``(goto, fail, out)`` where ``goto[s]`` maps char → next state,
    ``fail[s]`` is the longest-proper-suffix fallback, and ``out[s]``
    lists phrase indices ENDING at state ``s`` (own output plus the
    fail-chain's, pre-merged so matching never walks the chain).

    Plain picklable lists/dicts — built once driver-side (O(total phrase
    chars)), shipped to executors via broadcast. 10^5 phrases ≈ a few MB.
    """
    assert phrases and all(p for p in phrases)
    goto: list[dict[str, int]] = [{}]
    out: list[list[int]] = [[]]
    for idx, p in enumerate(phrases):
        s = 0
        for ch in p:
            nxt = goto[s].get(ch)
            if nxt is None:
                goto.append({})
                out.append([])
                nxt = goto[s][ch] = len(goto) - 1
            s = nxt
        out[s].append(idx)
    fail = [0] * len(goto)
    queue = list(goto[0].values())
    head = 0
    while head < len(queue):
        s = queue[head]
        head += 1
        for ch, t in goto[s].items():
            queue.append(t)
            f = fail[s]
            while f and ch not in goto[f]:
                f = fail[f]
            fail[t] = goto[f].get(ch, 0) if goto[f].get(ch, 0) != t else 0
            out[t] = out[t] + out[fail[t]]  # pre-merge the fail chain
    return goto, fail, out


def phrase_blocklist_hits_ac(
    df: DataFrame,
    phrases: list[str],
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Aho–Corasick variant of :func:`phrase_blocklist_hits` for LARGE
    blocklists (a real toxicity/compliance list is 10^3–10^5 phrases):
    one automaton pass per document instead of one replace-diff expression
    per phrase, so per-doc cost is O(len(text) + matches) regardless of
    list size.

    Semantics are IDENTICAL to the replace-diff form — per-phrase
    NON-overlapping occurrences, leftmost-greedy (a match is counted only
    if it starts at/after the previous counted match of the SAME phrase
    ends) — so the two forms are interchangeable gates and the small-list
    oracle proves this one.

    Scale shape: the automaton builds once driver-side and broadcasts;
    matching is a single ``mapInPandas`` projection over Arrow batches —
    ZERO shuffle, bodies never leave their partitions. Returns
    ``(id, n_hits, n_phrases_hit, keep)``.
    """
    from collections.abc import Iterator

    import pandas as pd

    goto, fail, out = build_aho_corasick(phrases)
    plen = [len(p) for p in phrases]
    bc = df.sparkSession.sparkContext.broadcast((goto, fail, out, plen))
    schema = (
        f"{id_col} {df.schema[id_col].dataType.simpleString()}, "
        "n_hits bigint, n_phrases_hit bigint, keep boolean"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        goto, fail, out, plen = bc.value
        n_p = len(plen)

        def scan(text) -> tuple[int, int]:
            if not isinstance(text, str) or not text:
                return 0, 0
            counts = [0] * n_p
            next_start = [0] * n_p  # per-phrase non-overlap frontier
            s = 0
            for i, ch in enumerate(text):
                while s and ch not in goto[s]:
                    s = fail[s]
                s = goto[s].get(ch, 0)
                for idx in out[s]:
                    start = i - plen[idx] + 1
                    if start >= next_start[idx]:
                        counts[idx] += 1
                        next_start[idx] = i + 1
            return sum(counts), sum(1 for c in counts if c)

        for pdf in batches:
            res = [scan(t) for t in pdf[content_col]]
            o = pdf[[id_col]].copy()
            o["n_hits"] = [r[0] for r in res]
            o["n_phrases_hit"] = [r[1] for r in res]
            o["keep"] = [r[0] == 0 for r in res]
            yield o

    return df.select(id_col, content_col).mapInPandas(run, schema)


def fuzzy_decontaminate(
    train: DataFrame,
    eval_df: DataFrame | None,
    content_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_len: int = 5,
    min_est_ppm: int = 500_000,
    sig_fn=None,
    eval_signatures: DataFrame | None = None,
) -> DataFrame:
    """NEAR-match benchmark decontamination: the paraphrase gap of
    :func:`decontaminate_against` — the exact 13-gram rule misses an eval
    item whose wording drifted (whitespace, punctuation, light edits), so
    the standard second pass (GPT-4/Llama-style) is MinHash similarity
    between training documents and eval items. Flags any train doc whose
    estimated shingle-Jaccard against SOME eval item reaches
    ``min_est_ppm``.

    Output: one row per TRAIN document — ``(id, matched_eval_id,
    est_ppm, keep)`` with the strongest match (ties → smaller eval id)
    and ``keep`` iff no candidate reached the threshold. Train and eval
    ids must be disjoint (the usual held-out-slice split).

    Scale shape: both sides collapse to signatures (bodies never move);
    the eval side is benchmark-sized, so its band cells BROADCAST against
    the train cells — candidate generation is a broadcast hash join, not
    an LSH self-join; the Jaccard estimator then joins signatures only
    for the candidate pairs (metadata-scale). Signatures are
    stage-barrier-pinned — each feeds its band cells AND the estimator.

    ``sig_fn(df) -> (id, h0..h{k-1})`` overrides the signature scheme —
    the oracle twin passes the md5-slice variant for DuckDB parity;
    default is the xxhash64 family (fastest JVM-side).

    ``eval_signatures`` supplies a PRECOMPUTED eval-side signature frame
    instead of ``eval_df`` (exactly one of the two) — the frozen-sidecar
    seam pipelines/decontam_stream.py gates a document stream through:
    benchmarks are signatured once, every micro-batch signatures only
    itself. The sidecar must have been built with the same signature
    scheme and ``num_hashes``.
    """
    from pharmacodi_spark.barrier import stage_barrier
    from pharmacodi_spark.text.dedup import (
        band_cells,
        estimate_jaccard,
        minhash_signatures,
    )

    assert (eval_df is None) != (eval_signatures is None), (
        "pass exactly one of eval_df / eval_signatures"
    )
    if sig_fn is None:
        sig_fn = lambda d: minhash_signatures(  # noqa: E731
            d, content_col, id_col, num_hashes, shingle_len
        )
    sig_t = stage_barrier(sig_fn(train), name="fdc_sig_train")
    sig_e = (
        eval_signatures
        if eval_signatures is not None
        else stage_barrier(sig_fn(eval_df), name="fdc_sig_eval")
    )
    cells_t = band_cells(sig_t, id_col, num_hashes, bands)
    cells_e = band_cells(sig_e, id_col, num_hashes, bands).select(
        F.col(id_col).alias("__eval_id"), "band", "bucket"
    )
    cand = (
        cells_t.join(F.broadcast(cells_e), ["band", "bucket"])
        .select(id_col, "__eval_id")
        .distinct()
    )
    est = estimate_jaccard(
        sig_t.unionByName(sig_e),  # ids disjoint by contract
        cand,
        num_hashes=num_hashes,
        id_col=id_col,
        src=id_col,
        dst="__eval_id",
    )
    best = est.groupBy(id_col).agg(
        F.max(
            F.struct(
                F.col("est_ppm").alias("e"), (-F.col("__eval_id")).alias("n")
            )
        ).alias("__b")
    )
    return (
        train.select(id_col)
        .join(best, id_col, "left")
        .select(
            id_col,
            (-F.col("__b.n")).cast("long").alias("matched_eval_id"),
            F.coalesce(F.col("__b.e"), F.lit(0)).cast("long").alias("est_ppm"),
            (F.coalesce(F.col("__b.e"), F.lit(0)) < min_est_ppm).alias("keep"),
        )
    )
