"""HTML → main-content extraction — the FIRST text stage of a real web
pipeline (trafilatura shape): before any quality gate can score a crawled
page, markup must be stripped and boilerplate (nav bars, footers, link
lists) dropped, keeping only the main prose blocks.

Two paths through ONE documented contract:

- **Native-expression path** (:func:`strip_html_tags`,
  :func:`extract_main_text`): pure ``regexp_replace`` / ``split`` /
  higher-order-function expressions — fully codegen'd, ZERO shuffle (one
  projection over the scan), and oracle-expressible (the driver query
  synthesizes noisy HTML from clean text and checks the extractor returns
  the clean text — a closed-form independent oracle). This is the 100 TB
  hot path: markup never leaves its scan partition.
- **Parser seam** (:func:`extract_main_text_parsed`): ``html.parser``
  inside the established Arrow-batched ``mapInPandas`` seam (the
  media_codecs.py pattern — pure stdlib, no external deps) for pages the
  regex path cannot handle faithfully: ``>`` inside quoted attribute
  values, the full named-entity table (``html.unescape``), malformed
  nesting. Same block/link-density contract, verified equivalent to the
  native path on well-formed pages by tests.

Contract (both paths):

1. ``<script>``/``<style>``/``<title>`` elements are removed WITH their
   content; HTML comments removed.
2. The page splits into blocks at block-level tags (``div p section
   article aside header footer nav ul ol li table thead tbody tr td th
   h1-h6 blockquote pre form br hr html head body``); inline tags
   (``a b i em span ...``) become a single space.
3. Entities ``&nbsp; &lt; &gt; &quot; &#39; &amp;`` decode (``&amp;``
   LAST, so double-escaped text stays literal — html.unescape semantics);
   the parser seam decodes the full table.
4. Whitespace collapses to single spaces, blocks are trimmed.
5. A block is MAIN CONTENT iff its text length ≥ 20 chars AND its link
   density (chars inside ``<a>`` ÷ block chars) ≤ 50% — the classic
   boilerplate heuristic: nav bars
   and footers are short and link-dense.
6. Kept blocks join with a single space.

Reference scope note: the reference pipeline ingests CSV/API tables
(download_psets.py) and has no HTML stage — this module is part of the
LLM-pipeline extension surface (VERDICT r7 item 2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: elements removed WITH their content (non-greedy, dotall, case-blind)
_SCRUB_ELEMENTS = ("script", "style", "title")

#: block-level tags — a block boundary wherever one opens or closes
_BLOCK_TAGS = (
    "html", "head", "body", "div", "p", "section", "article", "aside",
    "header", "footer", "nav", "ul", "ol", "li", "table", "thead",
    "tbody", "tr", "td", "th", "h1", "h2", "h3", "h4", "h5", "h6",
    "blockquote", "pre", "form", "br", "hr",
)

_BLOCK_SPLIT_RE = r"(?i)</?(?:%s)(?:[\s/][^>]*)?>" % "|".join(_BLOCK_TAGS)

#: main-text blocks keep at least this many chars of text, at most this
#: percentage of it inside links
_MIN_BLOCK_CHARS = 20
_MAX_LINK_DENSITY_PCT = 50

#: entity → replacement, applied in order (&amp; LAST: "&amp;nbsp;" must
#: decode to the literal "&nbsp;", not to a space — html.unescape parity)
_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
)


def _scrub(html: Column) -> Column:
    """Remove script/style/title elements (with content) and comments."""
    out = html
    for el in _SCRUB_ELEMENTS:
        out = F.regexp_replace(out, rf"(?is)<{el}(?:[\s/][^>]*)?>.*?</{el}\s*>", " ")
    return F.regexp_replace(out, r"(?s)<!--.*?-->", " ")


def _block_text(block: Column) -> Column:
    """Inline tags → space, entities decoded, whitespace collapsed."""
    txt = F.regexp_replace(block, r"<[^>]*>", " ")
    for ent, rep in _ENTITIES:
        txt = F.replace(txt, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(txt, r"\s+", " "))


def strip_html_tags(html) -> Column:
    """Plain tag-strip of a whole page (no boilerplate heuristic): scrub
    script/style/title + comments, every other tag → space, entities
    decoded, whitespace collapsed. Native expressions only — usable inside
    any projection."""
    h = F.col(html) if isinstance(html, str) else html
    return _block_text(_scrub(h))


def extract_main_text(html) -> Column:
    """Main-content extraction as ONE native expression (see module
    contract): scrub → split into blocks at block-level tags → per block,
    text + linked-text length → keep long, low-link-density blocks → join.

    Per-row, zero shuffle: the page never leaves its scan partition, and
    the whole expression is codegen'd. Blocks are bounded by the page
    itself, so the higher-order functions are bounded fan-out. Known
    regex-path limits (quoted ``>`` in attributes, exotic entities) are
    the parser seam's job — :func:`extract_main_text_parsed`."""
    h = F.col(html) if isinstance(html, str) else html
    blocks = F.split(_scrub(h), _BLOCK_SPLIT_RE)
    scored = F.transform(
        blocks,
        lambda b: F.struct(
            _block_text(b).alias("txt"),
            F.length(
                _block_text(
                    F.array_join(
                        F.regexp_extract_all(
                            b,
                            F.lit(r"(?is)<a(?:[\s/][^>]*)?>(.*?)</a\s*>"),
                            F.lit(1),
                        ),
                        " ",
                    )
                )
            ).alias("linked_len"),
        ),
    )
    kept = F.filter(
        scored,
        lambda s: (F.length(s["txt"]) >= F.lit(_MIN_BLOCK_CHARS))
        & (
            F.lit(100) * s["linked_len"]
            <= F.lit(_MAX_LINK_DENSITY_PCT) * F.length(s["txt"])
        ),
    )
    return F.array_join(F.transform(kept, lambda s: s["txt"]), " ")


def html_to_text(
    df: DataFrame,
    html_col: str = "html",
    out_col: str = "text",
) -> DataFrame:
    """DataFrame form of :func:`extract_main_text` — the optional FIRST
    stage of a curation cascade: crawled pages in, gate-ready prose out,
    one zero-shuffle projection."""
    return df.withColumn(out_col, extract_main_text(html_col))


# ---------------------------------------------------------------------------
# Parser seam: html.parser inside mapInPandas (media_codecs.py pattern)
# ---------------------------------------------------------------------------


def _parse_main_text(page: str) -> str:
    """Single-page extraction with the stdlib parser — the same contract
    as :func:`extract_main_text`, but attribute-safe and full-entity
    (convert_charrefs handles the whole named/numeric table)."""
    import re
    from html.parser import HTMLParser

    block_tags = set(_BLOCK_TAGS)
    scrub = set(_SCRUB_ELEMENTS)
    ws = re.compile(r"\s+")

    class _Extractor(HTMLParser):
        def __init__(self) -> None:
            super().__init__(convert_charrefs=True)
            self.blocks: list[tuple[str, str]] = []
            self._txt: list[str] = []
            self._lnk: list[str] = []
            self._a_depth = 0
            self._skip = 0

        def _flush(self) -> None:
            txt = ws.sub(" ", "".join(self._txt)).strip()
            lnk = ws.sub(" ", "".join(self._lnk)).strip()
            if txt:
                self.blocks.append((txt, lnk))
            self._txt, self._lnk = [], []

        def _tag(self, tag: str, closing: bool) -> None:
            if tag in scrub:
                self._skip += -1 if closing else 1
                self._skip = max(self._skip, 0)
                return
            if self._skip:
                return
            if tag in block_tags:
                self._flush()
                self._a_depth = 0  # a block boundary closes a dangling <a>
            else:
                # inline tag = a single space (native-path parity)
                self._txt.append(" ")
                if self._a_depth:
                    self._lnk.append(" ")
                if tag == "a":
                    self._a_depth += -1 if closing else 1
                    self._a_depth = max(self._a_depth, 0)

        def handle_starttag(self, tag, attrs):  # noqa: D102
            self._tag(tag, closing=False)

        def handle_endtag(self, tag):  # noqa: D102
            self._tag(tag, closing=True)

        def handle_data(self, data):  # noqa: D102
            if self._skip:
                return
            self._txt.append(data)
            if self._a_depth:
                self._lnk.append(data)

        def close(self):  # noqa: D102
            super().close()
            self._flush()

    p = _Extractor()
    p.feed(page or "")
    p.close()
    kept = [
        txt
        for txt, lnk in p.blocks
        if len(txt) >= _MIN_BLOCK_CHARS
        and 100 * len(lnk) <= _MAX_LINK_DENSITY_PCT * len(txt)
    ]
    return " ".join(kept)


def extract_main_text_parsed(
    df: DataFrame,
    html_col: str = "html",
    out_col: str = "text",
) -> DataFrame:
    """Main-content extraction through the stdlib ``html.parser`` seam —
    Arrow-batched ``mapInPandas``, same contract as the native path, for
    pages the regex path cannot parse faithfully (quoted ``>`` in
    attribute values, full entity table, sloppy nesting). Passes every
    non-HTML column through unchanged; schema is input ± ``out_col``."""
    import pandas as pd  # noqa: F401  (seam dependency, Arrow-batched)

    in_schema = df.schema
    out_fields = [f"{f.name} {f.dataType.simpleString()}" for f in in_schema]
    if out_col not in in_schema.names:
        out_fields.append(f"{out_col} string")
    schema = ", ".join(out_fields)

    def run(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = [
                _parse_main_text(h)
                for h in pdf[html_col].astype("string").fillna("")
            ]
            yield pdf

    return df.mapInPandas(run, schema)


def extract_links(
    df: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    out_col: str = "href",
) -> DataFrame:
    """(id, href) rows: every ``<a href="...">`` / ``<a href='...'>``
    target on the page — the web-graph edge extractor feeding host-level
    link analysis (a PageRank/centrality prior over domains is the
    standard second-order quality signal next to content gates). Native
    ``regexp_extract_all`` over the scrubbed page (script/style/title
    bodies can contain fake anchors), one explode; empty hrefs dropped.
    Only absolute http(s) targets are kept — relative (``/about``) and
    non-web (``mailto:``, ``javascript:``) hrefs would map to garbage
    hosts in downstream ``url_host`` edges (ADVICE r8).
    Pages never shuffle — the output rows are (id, short string)."""
    h = _scrub(F.col(html_col) if isinstance(html_col, str) else html_col)
    links = F.concat(
        F.regexp_extract_all(
            h, F.lit(r'(?is)<a[\s/][^>]*href\s*=\s*"([^"]*)"'), F.lit(1)
        ),
        F.regexp_extract_all(
            h, F.lit(r"(?is)<a[\s/][^>]*href\s*=\s*'([^']*)'"), F.lit(1)
        ),
    )
    out = df.select(
        F.col(id_col), F.explode(links).alias(out_col)
    ).where(F.col(out_col) != "")
    return out.where(F.col(out_col).rlike(r"(?i)^https?://"))


def extract_anchor_texts(
    df: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, href, anchor) rows: every ``<a href="...">`` /
    ``<a href='...'>`` WITH its rendered anchor text (inline tags
    stripped, entities decoded, whitespace collapsed —
    :func:`_block_text` semantics). Anchor text is the classic off-page
    relevance signal: what OTHER pages call a target is often a better
    description than the target's own boilerplate, so per-target-host
    anchor rollups ride next to the link-graph rank as curation priors.
    Native ``regexp_extract_all`` per quote style over the scrubbed page
    (href group + text group from the SAME pattern, zipped by position),
    one explode; empty hrefs dropped. Only absolute http(s) targets are
    kept — relative/``mailto:`` hrefs would
    accumulate garbage host keys in the rollup (ADVICE r8)."""
    h = _scrub(F.col(html_col) if isinstance(html_col, str) else html_col)
    dq = r'(?is)<a[\s/][^>]*href\s*=\s*"([^"]*)"[^>]*>(.*?)</a\s*>'
    sq = r"(?is)<a[\s/][^>]*href\s*=\s*'([^']*)'[^>]*>(.*?)</a\s*>"
    pairs = F.concat(
        *[
            F.arrays_zip(
                F.regexp_extract_all(h, F.lit(p), F.lit(1)).alias("href"),
                F.regexp_extract_all(h, F.lit(p), F.lit(2)).alias("raw"),
            )
            for p in (dq, sq)
        ]
    )
    out = (
        df.select(F.col(id_col), F.explode(pairs).alias("p"))
        .select(
            id_col,
            F.col("p.href").alias("href"),
            _block_text(F.col("p.raw")).alias("anchor"),
        )
        .where(F.col("href") != "")
    )
    return out.where(F.col("href").rlike(r"(?i)^https?://"))


def anchor_term_rollup(
    df: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-3 anchor-text terms per TARGET host: what the rest of the
    corpus calls each domain — ``(host, token, n, rank)`` with rank by
    (count desc, token asc). The host-level companion to
    :func:`extract_links`' PageRank prior.

    Scale shape: pages collapse to (target host, token) counts in one
    map-side-combining aggregation (the explode carries short anchor
    tokens, never pages); the rank window runs on the
    host-vocabulary-cardinality rollup — metadata scale."""
    from pyspark.sql import Window

    from pharmacodi_spark.text.urls import url_host

    links = extract_anchor_texts(df, html_col, id_col)
    toks = links.select(
        url_host("href").alias("host"),
        F.explode(
            F.filter(F.split(F.col("anchor"), " "), lambda x: x != "")
        ).alias("token"),
    )
    counts = toks.groupBy("host", "token").agg(
        F.count("*").cast("long").alias("n")
    )
    w = Window.partitionBy("host").orderBy(F.desc("n"), F.asc("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
    )
