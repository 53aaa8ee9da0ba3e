"""URL, domain, HTML, link-rank and robots rows (text/urls, text/html)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pharmacodi_spark.functions.scalar import local_df
from pharmacodi_spark.plans.queries import (
    q,
    _t,
    _host_rank_parts,
    _LINK_PAGE_EXPR,
    _host_rank_df,
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
    return anchor_term_rollup(pages, "html")


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
