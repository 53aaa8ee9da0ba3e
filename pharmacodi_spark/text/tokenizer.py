"""Real-vocab tokenization — token budgets in MODEL tokens, not regex pieces.

``text/analysis.py::token_counts`` estimates budgets with a BPE-ish
pre-tokenizer regex; that is fine for corpus triage but an LLM-pipeline
token budget means tokens under the model's actual vocabulary. This module
provides that as data-driven tokenization:

- ``build_greedy_encoder(vocab)`` — a trie-backed greedy longest-prefix
  matcher (the WordPiece/unigram-LM-style inference step: at each position
  consume the longest vocab piece, else one unknown character). Pure
  Python, deterministic, property-tested against a brute-force reference.
- ``vocab_token_counts(df, vocab)`` — per-document token/unk counts over a
  whitespace pre-tokenization, as ONE ``mapInPandas`` pass with per-batch
  word memoization. Scale shape: zero shuffle, zero explode — the corpus
  never leaves its scan partitions; Python work is bounded by DISTINCT
  words per batch (Zipf: a tiny fraction of the token stream), and the
  vocab rides to executors once via ``SparkContext.broadcast``.
- ``encode_with_tokenizer(df, encoder)`` — the injected-encoder seam: any
  callable ``str -> int | Sequence`` (e.g. ``lambda s: enc.encode(s)`` for
  a tiktoken/HF tokenizer where installed) applied to the FULL text in
  Arrow batches. The greedy encoder is the in-repo "real instance" proving
  the seam; heavyweight tokenizer libs stay optional.
- ``train_bpe(df)`` — true merge-based BPE training (iterative
  highest-frequency pair merges over the distinct-word table, batched
  non-conflicting merges per round, bounded driver traffic); its
  ``bpe_vocab`` pieces feed the same trie encoder.

Reference parity: the reference has no tokenizer (its text surface is
annotation parsing, e.g. PharmacoDI/build_cellosaurus.py record splits);
this is north-star extension surface for LLM-corpus budgeting.

Greedy semantics (both the Python encoder and the DuckDB oracle in
plans/lm_q.py::vocab_token_count implement exactly this):
  pos := 0; while pos < len(word):
    p := longest vocab piece s.t. word[pos:pos+len(p)] == p
    if p exists: pos += len(p)            # one vocab token
    else:        pos += 1; unk += 1       # one unknown-char token
  tokens := vocab tokens + unk tokens
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_END = ""  # trie terminal marker key (empty string cannot be a char)


def _word_source(content_col: str, tokens_col: str | None) -> "F.Column":
    """Word-stream source for the vocabulary trainers: the default
    whitespace split, or a pre-tokenized array column (``tokens_col``,
    e.g. ``analysis.unicode_tokens`` — on CJK/Thai the whitespace split
    makes a whole line ONE word, so the distinct-word table the trainers
    collapse to holds line-sized "words" and the learned vocabulary is
    garbage; the seam keeps the trainers unchanged)."""
    if tokens_col is not None:
        return F.col(tokens_col)
    return F.split(F.col(content_col), r"\s+")


def build_trie(vocab: Iterable[str]) -> dict:
    """Nested-dict prefix trie; presence of the ``_END`` key marks a piece."""
    root: dict = {}
    for piece in vocab:
        if not piece:
            continue
        node = root
        for ch in piece:
            node = node.setdefault(ch, {})
        node[_END] = True
    return root


def greedy_encode(
    word: str, trie: dict, byte_fallback: bool = False
) -> tuple[int, int]:
    """(n_tokens, n_unk) for one word under greedy longest-prefix matching.

    One trie walk per emitted token: O(len(word) * max_piece_len) worst
    case, O(len(word)) typical. ``byte_fallback=True`` prices an unmatched
    character as its UTF-8 BYTE count (the byte-level-BPE convention:
    every string tokenizes, non-ASCII costs its encoded width) instead of
    one unk token per character.
    """
    n = len(word)
    pos = 0
    tokens = unk = 0
    while pos < n:
        node = trie
        best = 0  # chars consumed by the longest match at pos
        i = pos
        while i < n:
            nxt = node.get(word[i])
            if nxt is None:
                break
            node = nxt
            i += 1
            if _END in node:
                best = i - pos
        if best:
            pos += best
            tokens += 1
        else:
            width = len(word[pos].encode("utf-8")) if byte_fallback else 1
            pos += 1
            unk += width
            tokens += width
    return tokens, unk


def build_greedy_encoder(vocab: Iterable[str]) -> Callable[[str], tuple[int, int]]:
    """Bind a vocab into a ``word -> (n_tokens, n_unk)`` encoder."""
    trie = build_trie(vocab)
    return lambda word: greedy_encode(word, trie)


def vocab_token_counts(
    df: DataFrame,
    vocab: Sequence[str],
    content_col: str = "text",
    id_cols: Sequence[str] = ("doc_id",),
) -> DataFrame:
    """Per-document model-token counts: ``n_vocab_tokens`` / ``n_unk``.

    Whitespace pre-tokenization (empty words dropped), then greedy
    longest-prefix per word. Implemented as a single ``mapInPandas`` with a
    per-batch word→count memo: no explode, no join, no shuffle — compare
    the explode→distinct→encode→join-back formulation, which ships every
    (doc_id, word) pair through an exchange and eats hot-word skew on the
    join. Here the heavy Zipf head ("the", boilerplate tokens) costs one
    trie walk per batch, and all data movement is the scan itself.
    """
    sc = df.sparkSession.sparkContext
    bc_vocab = sc.broadcast(list(vocab))
    ids = list(id_cols)
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.select(*ids).schema.fields
    )
    schema += ", n_vocab_tokens bigint, n_unk bigint"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trie = build_trie(bc_vocab.value)
        memo: dict[str, tuple[int, int]] = {}

        def doc_counts(text) -> tuple[int, int]:
            if not isinstance(text, str) or not text:
                return 0, 0
            tot = unk = 0
            for w in text.split():
                hit = memo.get(w)
                if hit is None:
                    hit = memo[w] = greedy_encode(w, trie)
                tot += hit[0]
                unk += hit[1]
            return tot, unk

        for pdf in batches:
            counts = [doc_counts(t) for t in pdf[content_col]]
            out = pdf[ids].copy()
            out["n_vocab_tokens"] = [c[0] for c in counts]
            out["n_unk"] = [c[1] for c in counts]
            yield out

    return df.select(*ids, content_col).mapInPandas(run, schema)


def encode_with_tokenizer(
    df: DataFrame,
    encoder: Callable[[str], "int | Sequence"],
    content_col: str = "text",
    id_cols: Sequence[str] = ("doc_id",),
    out_col: str = "n_tokens",
) -> DataFrame:
    """Injected-encoder seam: count tokens with ANY full-text tokenizer.

    ``encoder`` runs driver-constructed but executor-side (it must be
    picklable or constructible from picklable state — tiktoken/HF encoders
    are); it receives the raw document string and returns either a token
    count or a sequence of tokens (its length is used). Arrow-batched via
    ``mapInPandas`` — per-batch Python cost is the tokenizer itself, which
    is the irreducible term of real-vocab budgeting.
    """
    ids = list(id_cols)
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.select(*ids).schema.fields
    )
    schema += f", {out_col} bigint"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[ids].copy()
            counts = []
            for t in pdf[content_col]:
                r = encoder(t if isinstance(t, str) else "")
                counts.append(r if isinstance(r, int) else len(r))
            out[out_col] = counts
            yield out

    return df.select(*ids, content_col).mapInPandas(run, schema)


def train_vocab(
    df: DataFrame,
    content_col: str = "text",
    vocab_size: int = 1000,
    max_piece_len: int = 6,
    tokens_col: str | None = None,
) -> DataFrame:
    """Corpus-driven vocabulary: the ``vocab_size`` highest-frequency
    substrings (length ≤ ``max_piece_len``) of the corpus' words, weighted
    by word occurrence — a unigram-frequency trainer (the greedy-inference
    counterpart of BPE merge training; pieces feed straight into
    ``build_greedy_encoder`` / ``vocab_token_counts``).

    Scale shape: the corpus collapses to DISTINCT words + occurrence
    counts first (one shuffle keyed by word — Zipf makes this table tiny
    relative to the token stream), substring explosion runs over that
    distinct table only (≤ len·max_piece_len pieces per distinct word),
    and the global top-k is TakeOrderedAndProject (per-partition heaps +
    driver merge, never a full sort). Returns (piece, total) ordered by
    (total DESC, piece) — a deterministic total order, so the cut at
    ``vocab_size`` is engine-independent.
    """
    words = (
        df.select(F.explode(_word_source(content_col, tokens_col)).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    starts = words.select(
        "w", "cnt", F.explode(F.sequence(F.lit(1), F.length("w"))).alias("i")
    )
    pieces = starts.select(
        "cnt",
        F.explode(
            F.expr(
                f"transform(sequence(1, least({int(max_piece_len)}, "
                f"length(w) - i + 1)), l -> substr(w, i, l))"
            )
        ).alias("piece"),
    )
    return (
        pieces.groupBy("piece")
        .agg(F.sum("cnt").cast("long").alias("total"))
        .orderBy(F.col("total").desc(), "piece")
        .limit(vocab_size)
    )


# BPE merge training (VERDICT r5 item 4) ------------------------------------

_SEP = "\x00"  # pair-key delimiter; cannot appear inside a whitespace token


def select_nonconflicting(
    candidates: "Sequence[tuple[str, str, int]]", k: int
) -> list[tuple[str, str, int]]:
    """Greedy prefix of ``(left, right, count)`` candidates (already ordered
    by count DESC, left, right) such that applying ALL selected merges in
    ONE left-to-right pass is order-independent and chain-free: a candidate
    is rejected if any of its strings {left, right, left+right} was already
    touched (as a component OR as a produced symbol) by an earlier
    selection. Driver-side pure function — also the contract the pytest's
    independent Python reference re-implements."""
    touched: set[str] = set()
    out: list[tuple[str, str, int]] = []
    for left, right, cnt in candidates:
        if len(out) >= k:
            break
        strs = {left, right, left + right}
        if strs & touched:
            continue
        touched |= strs
        out.append((left, right, cnt))
    return out


def train_bpe(
    df: DataFrame,
    content_col: str = "text",
    num_merges: int = 200,
    max_batch: int = 16,
    tokens_col: str | None = None,
) -> list[tuple[str, str, int]]:
    """True merge-based BPE training: iteratively merge the corpus-wide
    highest-frequency adjacent symbol pair, returning the ordered merges
    list ``[(left, right, pair_count), ...]`` that
    :func:`bpe_vocab` turns into pieces for :func:`build_greedy_encoder`.

    Algorithm (the classic Sennrich-style trainer, re-shaped for Spark):

    1. ONE corpus-scale pass collapses documents to DISTINCT words +
       occurrence counts (Zipf: the word table is tiny vs the token
       stream); words are truncated to 64 chars (pathological
       mega-tokens contribute no merges from their tail) and split into
       character symbols.
    2. Each round, adjacent-pair frequencies are a distributed
       explode→groupBy over the word table; the driver collects only the
       top ``4·max_batch`` rows (bounded traffic) and greedily keeps up to
       ``max_batch`` NON-CONFLICTING pairs (:func:`select_nonconflicting`)
       — so one distributed left-to-right fold applies the whole batch
       with sequential-BPE semantics (no merge in a batch can touch
       another's symbols or output, hence no order ambiguity and no
       chained merges within a pass).
    3. The re-symbolized word table is stage-barrier-pinned per round
       (metadata-scale; durable under ``spark.pharmacodi.barrierDir``
       for preemptible clusters), keeping the loop's plan depth constant.

    Batching trades exact merge ORDER for ~``max_batch``× fewer rounds:
    with ``max_batch=1`` the output is exactly sequential BPE (the pytest
    checks this against an independent Python reference); larger batches
    keep the same greedy-frequency character but cut scheduler overhead —
    the standard distributed-BPE compromise. Ties break (count DESC, left,
    right) — deterministic on any engine.
    """
    from pharmacodi_spark.barrier import stage_barrier

    assert num_merges >= 0 and max_batch >= 1
    words = (
        df.select(F.explode(_word_source(content_col, tokens_col)).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.split(F.substring("w", 1, 64), "").alias("syms"),
            "cnt",
        )
    )
    words = stage_barrier(words, name="bpe-words")
    merges: list[tuple[str, str, int]] = []
    while len(merges) < num_merges:
        counts = (
            words.where(F.size("syms") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(element_at(syms, i) AS l, "
                        "element_at(syms, i + 1) AS r))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").cast("long").alias("c"))
            .orderBy(F.col("c").desc(), "l", "r")
            .limit(4 * max_batch)
            .collect()
        )
        if not counts:
            break
        batch = select_nonconflicting(
            [(r["l"], r["r"], r["c"]) for r in counts],
            min(max_batch, num_merges - len(merges)),
        )
        if not batch:
            break
        merges.extend(batch)
        kv: list = []
        for left, right, _ in batch:
            kv += [F.lit(left + _SEP + right), F.lit(left + right)]
        m = F.create_map(*kv)
        key = lambda acc, x: F.concat_ws(_SEP, F.element_at(acc, -1), x)
        merged = F.aggregate(
            F.col("syms"),
            F.expr("cast(array() as array<string>)"),
            lambda acc, x: F.when(
                (F.size(acc) > 0) & F.map_contains_key(m, key(acc, x)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(m[key(acc, x)]),
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        words = stage_barrier(
            words.select(merged.alias("syms"), "cnt"), name="bpe-round"
        )
    return merges


def bpe_vocab(
    merges: "Sequence[tuple[str, str, int]]",
    base_chars: Iterable[str] = (),
) -> list[str]:
    """Pieces for :func:`build_greedy_encoder`: every merge's produced
    symbol (in merge order) plus the single-character base alphabet —
    the vocabulary sequential BPE inference would use, consumed here by
    the greedy longest-prefix trie encoder."""
    seen: set[str] = set()
    out: list[str] = []
    for left, right, _ in merges:
        piece = left + right
        if piece not in seen:
            seen.add(piece)
            out.append(piece)
    for ch in base_chars:
        if ch and ch not in seen:
            seen.add(ch)
            out.append(ch)
    return out


def encode_token_ids(
    df: DataFrame,
    vocab: "Sequence[str]",
    content_col: str = "text",
    id_cols: "Sequence[str]" = ("doc_id",),
    out_col: str = "token_ids",
) -> DataFrame:
    """Encode documents to MODEL TOKEN ID arrays — the step that turns a
    curated corpus into trainable sequences (compose with
    text/packing.py::pack_sequences on ``size(token_ids)``).

    Greedy longest-prefix matching over the trie (same walk
    :func:`greedy_encode` prices), but emitting the matched piece's id
    (its index in ``vocab``) instead of a count; unmatched characters
    emit ``-1``. One ``mapInPandas`` pass with a per-batch word→ids
    memo — the same zero-shuffle / Zipf-bounded shape as
    :func:`vocab_token_counts`; the vocab broadcasts once.
    """
    sc = df.sparkSession.sparkContext
    bc_vocab = sc.broadcast(list(vocab))
    ids = list(id_cols)
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.select(*ids).schema.fields
    )
    schema += f", {out_col} array<long>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vocab_l = bc_vocab.value
        piece_id = {p: i for i, p in enumerate(vocab_l)}
        trie = build_trie(vocab_l)
        memo: dict[str, list[int]] = {}

        def word_ids(word: str) -> list[int]:
            hit = memo.get(word)
            if hit is not None:
                return hit
            out: list[int] = []
            n, pos = len(word), 0
            while pos < n:
                node, best, i = trie, 0, pos
                while i < n:
                    nxt = node.get(word[i])
                    if nxt is None:
                        break
                    node = nxt
                    i += 1
                    if _END in node:
                        best = i - pos
                if best:
                    out.append(piece_id[word[pos : pos + best]])
                    pos += best
                else:
                    out.append(-1)
                    pos += 1
            memo[word] = out
            return out

        for pdf in batches:
            col = []
            for t in pdf[content_col]:
                doc: list[int] = []
                if isinstance(t, str) and t:
                    for w in t.split():
                        doc.extend(word_ids(w))
                col.append(doc)
            out = pdf[ids].copy()
            out[out_col] = col
            yield out

    return df.select(*ids, content_col).mapInPandas(run, schema)


def decode_token_ids(
    df: DataFrame,
    vocab: "Sequence[str]",
    ids_col: str = "token_ids",
    out_col: str = "pieces",
) -> DataFrame:
    """Inverse of :func:`encode_token_ids`: map id arrays back to their
    vocabulary pieces — the debugging/inspection direction every tokenizer
    ships (verify what the model actually sees; spot-check packed
    sequences). Out-of-range ids (the encoder's ``-1``) decode to
    ``<unk>``.

    Whitespace is NOT reconstructed — the byte-level encoder drops word
    boundaries, so the faithful inverse is the piece sequence, and
    ``concat(pieces)`` equals the original text with separators removed
    (pytest-proven round-trip).

    Scale shape: the vocab rides as ONE array literal; decoding is a
    per-row ``transform`` + ``element_at`` — zero shuffles, no Python."""
    # single-node literal (r12, guide §1.2): one folded from_json node
    # instead of a CreateArray with one child Literal per vocab piece
    from pharmacodi_spark.functions.scalar import json_array_lit

    varr = json_array_lit([str(p) for p in vocab], "array<string>")
    n = len(vocab)
    pieces = F.transform(
        F.col(ids_col),
        lambda i: F.when(
            (i >= 0) & (i < n), F.element_at(varr, (i + 1).cast("int"))
        ).otherwise(F.lit("<unk>")),
    )
    return df.withColumn(out_col, pieces)


def train_unigram_lm(
    df: DataFrame,
    content_col: str = "text",
    vocab_size: int = 200,
    seed_size: int = 1000,
    max_piece_len: int = 8,
    em_iters: int = 2,
    prune_frac: float = 0.2,
    max_word_len: int = 32,
    tokens_col: str | None = None,
) -> list[tuple[str, int, int]]:
    """Unigram-LM tokenizer training (Kudo 2018 — the SentencePiece
    scheme; completes the module's tokenizer family next to the trie
    greedy encoder and :func:`train_bpe`): seed with the corpus's most
    frequent substrings, then alternate EM (Viterbi-segment every distinct
    word under the current piece probabilities, re-estimate counts) with
    pruning of the lowest-mass pieces until ``vocab_size`` remains.
    Returns ``[(piece, count, logp_fp), ...]`` sorted by (count desc,
    piece) — feed the pieces to :func:`build_trie` /
    :func:`build_greedy_encoder` or segment with Viterbi at encode time.

    Re-shaped for Spark the same way as :func:`train_bpe`:

    1. ONE corpus pass collapses to DISTINCT words + occurrence counts
       (Zipf-small vs the token stream), stage-barrier-pinned — every EM
       round re-reads the pinned table, not the corpus.
    2. Seeding is a distributed substring explode → count → TakeOrdered
       top-``seed_size`` (plus every single character, which can never be
       pruned — coverage guarantee).
    3. Each E-step is one ``mapInPandas`` over the word table with the
       piece table broadcast: per-word integer Viterbi (fixed-point
       log-probs, ties → fewer pieces → lexicographically smallest
       segmentation — engine-independent), emitting (piece, weighted
       count) rows that collapse in one groupBy.
    4. The M-step and pruning act on the vocabulary-scale count table
       (≤ ``seed_size`` rows — bounded driver traffic, the same contract
       as train_bpe's top-k collect).

    Fixed point: ``logp_fp = il(c+1) − il(total+|V|)`` (10-frac-bit
    integer log2, Laplace-smoothed so a zero-count piece scores finite
    until pruned). All scoring integer ⇒ the pure-Python replay in
    tests/test_unigram_lm.py reproduces training bit-exactly.
    """
    from pharmacodi_spark.barrier import stage_barrier
    from pharmacodi_spark.text.selection import ilog2_fp_int

    assert vocab_size >= 1 and seed_size >= vocab_size
    assert max_piece_len >= 1 and em_iters >= 1 and 0 < prune_frac < 1

    words = stage_barrier(
        df.select(F.explode(_word_source(content_col, tokens_col)).alias("w"))
        .where(F.col("w") != "")
        .select(F.substring("w", 1, max_word_len).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c")),
        name="uni_words",
    )

    # --- seed: frequent substrings (weighted by word count) + all chars
    subs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.transform(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(int(max_piece_len)), F.length("w") - i + 1),
                ),
                lambda l: F.substring(F.col("w"), i, l),
            ),
        )
    )
    sub_counts = (
        words.select(F.explode(subs).alias("p"), "c")
        .groupBy("p")
        .agg(F.sum("c").cast("long").alias("pc"))
    )
    top = sub_counts.orderBy(F.col("pc").desc(), "p").limit(int(seed_size))
    chars = sub_counts.where(F.length("p") == 1)
    seed_rows = (
        top.unionByName(chars).groupBy("p").agg(F.max("pc").alias("pc"))
    ).collect()
    counts: dict[str, int] = {r["p"]: int(r["pc"]) for r in seed_rows}

    sc = df.sparkSession.sparkContext

    def logp_table(cnt: dict[str, int]) -> dict[str, int]:
        total = sum(cnt.values())
        denom = ilog2_fp_int(total + len(cnt))
        return {p: ilog2_fp_int(c + 1) - denom for p, c in cnt.items()}

    def e_step(cnt: dict[str, int]) -> dict[str, int]:
        bc = sc.broadcast(logp_table(cnt))

        def run(batches):
            import pandas as pd

            lp = bc.value
            max_len = max(len(p) for p in lp)

            def segment(w: str) -> tuple[str, ...]:
                n = len(w)
                # dp[j] = (neg_score, n_pieces, seg_tuple) — minimized
                dp: list = [None] * (n + 1)
                dp[0] = (0, 0, ())
                for j in range(1, n + 1):
                    best = None
                    for i in range(max(0, j - max_len), j):
                        if dp[i] is None:
                            continue
                        piece = w[i:j]
                        s = lp.get(piece)
                        if s is None:
                            continue
                        cand = (
                            dp[i][0] - s,
                            dp[i][1] + 1,
                            dp[i][2] + (piece,),
                        )
                        if best is None or cand < best:
                            best = cand
                    dp[j] = best
                assert dp[n] is not None, w  # chars guarantee coverage
                return dp[n][2]

            for pdf in batches:
                acc: dict[str, int] = {}
                for w, c in zip(pdf["w"], pdf["c"]):
                    for piece in segment(w):
                        acc[piece] = acc.get(piece, 0) + int(c)
                yield pd.DataFrame(
                    {"p": list(acc.keys()), "pc": list(acc.values())}
                )

        new = (
            words.mapInPandas(run, "p string, pc long")
            .groupBy("p")
            .agg(F.sum("pc").cast("long").alias("pc"))
            .collect()
        )
        return {r["p"]: int(r["pc"]) for r in new}

    # --- EM + prune loop (deterministic: sort keys are integer/lexical)
    while True:
        for _ in range(int(em_iters)):
            used = e_step(counts)
            counts = {
                p: used.get(p, 0)
                for p in counts
                if len(p) == 1 or used.get(p, 0) > 0
            }
        if len(counts) <= vocab_size:
            break
        multi = sorted(
            (p for p in counts if len(p) > 1),
            key=lambda p: (counts[p], p),
        )
        n_drop = min(
            len(multi), max(1, int(len(counts) * float(prune_frac)))
        )
        n_drop = min(n_drop, len(counts) - vocab_size)
        if n_drop <= 0 or not multi:
            break
        for p in multi[:n_drop]:
            del counts[p]
    final_lp = logp_table(counts)
    return sorted(
        ((p, c, final_lp[p]) for p, c in counts.items()),
        key=lambda t: (-t[1], t[0]),
    )
