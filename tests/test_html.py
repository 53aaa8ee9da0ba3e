"""text/html.py: the main-content extraction contract (scrub → block split
→ entity decode → link-density boilerplate drop), native-path ≡ parser-seam
equivalence on well-formed pages, parser superiority on attribute-quoted
'>', and the optional HTML stage-0 of the curation cascade."""

from __future__ import annotations

from pyspark.sql import functions as F

from pharmacodi_spark.text.html import (
    _parse_main_text,
    extract_main_text,
    extract_main_text_parsed,
    html_to_text,
    strip_html_tags,
)

PROSE = "The quick brown fox jumps over the lazy dog every single day."

# (html, expected main text) — the documented contract, both paths
CASES = [
    # script/style/title scrubbed WITH content, even when the script body
    # contains '<' comparisons and fake block tags
    (
        '<html><head><title>T</title><style>.a{x:1}</style>'
        '<script>var x = 1 < 2; alert("<p>not content</p>");</script>'
        f"</head><body><p>{PROSE}</p></body></html>",
        PROSE,
    ),
    # comments dropped; link-only nav + footer dropped (density + length)
    (
        '<body><div class="nav"><a href="/">Home</a> <a href="/a">About</a>'
        f'</div><!-- crawl --><p>{PROSE}</p>'
        '<div><a href="/t">Terms</a> <a href="/p">Privacy</a></div></body>',
        PROSE,
    ),
    # inline tags become a space; entities decode; whitespace collapses
    (
        "<p>Words &amp; more   words with <b>bold</b>&nbsp;and &lt;tag&gt; "
        "literals kept here just fine.</p>",
        "Words & more words with bold and <tag> literals kept here just fine.",
    ),
    # double-escaped stays literal (&amp;nbsp; -> the TEXT '&nbsp;')
    (
        "<p>Escaped entity &amp;nbsp; should stay literal in this block "
        "of prose.</p>",
        "Escaped entity &nbsp; should stay literal in this block of prose.",
    ),
    # short blocks dropped even with zero links
    (
        f"<div>Short.</div><p>{PROSE}</p>",
        PROSE,
    ),
    # a long block with moderate link density is KEPT
    (
        '<p>This paragraph is long enough to keep and has just '
        '<a href="/x">one link</a> inside mostly prose text.</p>',
        "This paragraph is long enough to keep and has just one link "
        "inside mostly prose text.",
    ),
    # a long but link-saturated block is DROPPED
    (
        '<p><a href="/1">first very long link text here</a> '
        '<a href="/2">second very long link text here</a> '
        '<a href="/3">third very long link text here</a></p>'
        f"<p>{PROSE}</p>",
        PROSE,
    ),
    # multiple kept blocks join with a single space
    (
        f"<p>{PROSE}</p><h2>A heading that is long enough to survive "
        f"the cut</h2><p>{PROSE}</p>",
        f"{PROSE} A heading that is long enough to survive the cut {PROSE}",
    ),
    # br/hr split blocks
    (
        f"<p>{PROSE}<br/>All of this second line also has enough "
        "characters.</p>",
        f"{PROSE} All of this second line also has enough characters.",
    ),
]


def test_native_contract_cases(spark):
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(CASES)], ["doc_id", "html"]
    )
    got = {
        r["doc_id"]: r["main"]
        for r in df.select(
            "doc_id", extract_main_text("html").alias("main")
        ).collect()
    }
    for i, (h, want) in enumerate(CASES):
        assert got[i] == want, (h, got[i], want)


def test_parser_contract_cases():
    for h, want in CASES:
        assert _parse_main_text(h) == want, (h, want)


def test_parser_seam_dataframe(spark):
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(CASES)], ["doc_id", "html"]
    )
    out = extract_main_text_parsed(df, "html", out_col="main")
    assert set(out.columns) == {"doc_id", "html", "main"}
    got = {r["doc_id"]: r["main"] for r in out.collect()}
    for i, (_, want) in enumerate(CASES):
        assert got[i] == want


def test_strip_html_tags_keeps_everything(spark):
    df = spark.createDataFrame(
        [(0, f'<div><a href="/">Home</a></div><p>{PROSE}</p>')],
        ["doc_id", "html"],
    )
    [r] = df.select(strip_html_tags("html").alias("t")).collect()
    assert r["t"] == f"Home {PROSE}"


def test_parser_handles_quoted_gt_in_attributes():
    # the documented native-path limit: '>' inside a quoted attribute value
    # breaks the regex tag strip; the parser seam gets it right
    h = (
        '<p data-note="a > b">This paragraph survives even with a tricky '
        "quoted attribute value.</p>"
    )
    assert (
        _parse_main_text(h)
        == "This paragraph survives even with a tricky quoted attribute "
        "value."
    )


def test_parser_full_entity_table():
    # html.unescape covers entities the native 6-entry table does not
    h = "<p>Copyright &copy; owners &hellip; and &eacute;tude on prose.</p>"
    assert (
        _parse_main_text(h)
        == "Copyright © owners … and étude on prose."
    )


_PAGE_EXPR = r"""
concat(
  '<!DOCTYPE html><html><head><title>Doc ', doc_id, '</title>',
  '<style>.nav{color:red}</style>',
  '<script>var x = 1 < 2; alert("<p>not content</p>");</script>',
  '</head><body>',
  '<div class="nav"><a href="/">Home</a> <a href="/a">About</a></div>',
  '<!-- crawl: ', source, ' -->',
  '<p>',
  CASE WHEN doc_id % 4 = 0 THEN replace(text, ' ', '&nbsp;')
       ELSE concat('<b>', text, '</b>') END,
  '</p>',
  '<div><a href="/t">Terms</a> <a href="/p">Privacy</a> ',
  '<a href="/i">Imprint</a></div></body></html>'
)
"""


def _wrapped_docs(spark):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return d.select(
        "doc_id", "source", "text", F.expr(_PAGE_EXPR).alias("html")
    )


def test_native_equals_parser_on_corpus(spark):
    """Well-formed pages: the zero-shuffle native path and the html.parser
    seam extract identical main text over the whole synthesized corpus."""
    w = _wrapped_docs(spark)
    native = w.select(
        "doc_id", extract_main_text("html").alias("main")
    )
    parsed = extract_main_text_parsed(
        w.select("doc_id", "html"), "html", out_col="main"
    ).select("doc_id", "main")
    diff = native.join(parsed, "doc_id").where(
        native["main"] != parsed["main"]
    )
    assert diff.count() == 0
    # and both recover the original text exactly
    rec = native.join(w.select("doc_id", "text"), "doc_id").where(
        F.col("main") != F.col("text")
    )
    assert rec.count() == 0


def test_curation_pipeline_html_stage0(spark):
    """curation_pipeline(html_col=...) on HTML-wrapped docs ==
    curation_pipeline on the plain corpus: stage 0 recovers the prose, the
    five gates then run unchanged."""
    from pharmacodi_spark.plans.selection_q import curation_pipeline

    sf = "/root/testdata/sf0.001"
    plain = {
        (r["doc_id"], r["source"], r["rate"])
        for r in curation_pipeline(spark, sf).collect()
    }
    wrapped = _wrapped_docs(spark).drop("text")
    via_html = {
        (r["doc_id"], r["source"], r["rate"])
        for r in curation_pipeline(
            spark, sf, docs=wrapped, html_col="html"
        ).collect()
    }
    assert via_html == plain and plain


def test_html_to_text_projection(spark):
    w = _wrapped_docs(spark).drop("text")
    out = html_to_text(w, html_col="html")
    assert "text" in out.columns
    # zero-shuffle: no Exchange in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_extract_links(spark):
    from pharmacodi_spark.text.html import extract_links

    pages = [
        (0, '<p><a href="http://a.com/x">A</a> and '
            "<a href='http://b.com/y'>B</a></p>"),
        # a fake anchor inside a script body must NOT become a link
        (1, '<script>var s = "<a href=\"http://fake.com/\">x</a>";</script>'
            '<p><a href="http://c.com/z">C</a></p>'),
        (2, "<p>no links at all here</p>"),
        (3, '<p><a href="">empty href dropped</a></p>'),
    ]
    df = spark.createDataFrame(pages, ["doc_id", "html"])
    got = sorted(
        (r["doc_id"], r["href"]) for r in extract_links(df).collect()
    )
    assert got == [
        (0, "http://a.com/x"),
        (0, "http://b.com/y"),
        (1, "http://c.com/z"),
    ]


def test_extract_anchor_texts(spark):
    from pharmacodi_spark.text.html import extract_anchor_texts

    pages = [
        (0, '<p><a href="http://a.com/x">Visit <b>A</b> now</a> and '
            "<a href='http://b.com/y'>B &amp; co</a></p>"),
        # scrubbed regions contribute nothing
        (1, '<script>var s = "<a href=\"http://f.com/\">bad</a>";</script>'
            '<p><a href="http://c.com/z"></a></p>'),
    ]
    df = spark.createDataFrame(pages, ["doc_id", "html"])
    got = sorted(
        (r["doc_id"], r["href"], r["anchor"])
        for r in extract_anchor_texts(df).collect()
    )
    assert got == [
        (0, "http://a.com/x", "Visit A now"),   # inline tags stripped
        (0, "http://b.com/y", "B & co"),        # entity decoded
        (1, "http://c.com/z", ""),              # empty anchor kept (href real)
    ]
