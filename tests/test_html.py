"""HTML boilerplate-stripping tests (north_rule capability)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_extractor_spark.html.boilerplate import tokenize_html

from .conftest import FIXTURE_DIR, requires_fixtures

PAGE = b"""<!doctype html>
<html><head><title>T</title><style>.x{color:red}</style>
<script>var x = 1;</script></head>
<body>
<nav><a href="/">Home</a> <a href="/a">About</a> <a href="/b">More</a></nav>
<div class="content">
  <h1>A Real Article Headline Here</h1>
  <p>This is the first paragraph of the main content. It has plenty of
  words and a healthy text density, which marks it as content rather than
  boilerplate according to shallow text features.</p>
  <img src="figure1.png">
  <p>Second paragraph continues the discussion with more prose and enough
  length to be kept by the densitometric classifier as well.</p>
</div>
<aside>Related: <a href="/x">link one</a> <a href="/y">link two</a></aside>
<footer>Copyright 2020 Example Corp. All rights reserved.</footer>
</body></html>"""


def test_boilerplate_stripping():
    spans = tokenize_html(PAGE)["spans"]
    texts = [s["text"] for s in spans if s["kind"] == "text"]
    joined = " ".join(texts)
    assert any("first paragraph of the main content" in t for t in texts)
    assert any("Second paragraph continues" in t for t in texts)
    # nav links, aside, footer, script, style are stripped
    assert "Home" not in joined
    assert "Related" not in joined
    assert "Copyright" not in joined
    assert "var x" not in joined
    media = [s for s in spans if s["kind"] == "media"]
    assert [m["media_ref"] for m in media] == ["figure1.png"]


def test_document_order_preserved():
    spans = tokenize_html(PAGE)["spans"]
    ordered = sorted(spans, key=lambda s: (-s["y0"], s["x0"]))
    kinds = [(s["kind"], (s["text"] or s["media_ref"])[:10]) for s in ordered]
    # headline, para1, image, para2 in document order
    assert kinds[0] == ("text", "A Real Art")
    assert kinds[1][1].startswith("This is th")
    assert kinds[2] == ("media", "figure1.pn")
    assert kinds[3][1].startswith("Second par")


def test_garbage_html():
    assert tokenize_html(None)["spans"] == []
    # binary garbage must not raise; whatever survives is a valid span struct
    for s in tokenize_html(b"\xff\xfe garbage <<<")["spans"]:
        assert s["kind"] in ("text", "media")
    assert tokenize_html(b"<p>" + b"word " * 20)["spans"][0]["kind"] == "text"


@requires_fixtures
def test_mixed_pipeline_dispatch(spark):
    """PDF and HTML docs flow through one tokenize_stage, one span contract."""
    from pdf_extractor_spark.pipeline import tokenize_stage
    from pdf_extractor_spark.schema import RAW_DOC_SCHEMA

    pdf_bytes = open(f"{FIXTURE_DIR}/oab_1.pdf", "rb").read()
    rows = [
        ("d_pdf", bytearray(pdf_bytes), "application/pdf", "l", {}, len(pdf_bytes)),
        ("d_html", bytearray(PAGE), "text/html", "l", {}, len(PAGE)),
    ]
    df = spark.createDataFrame(rows, RAW_DOC_SCHEMA)
    out = {r["doc_id"]: r for r in tokenize_stage(df).select("doc_id", "spans").collect()}
    assert len(out["d_pdf"]["spans"]) == 15
    html_spans = out["d_html"]["spans"]
    assert [s["offset"] for s in html_spans] == list(range(len(html_spans)))
    assert any(s["kind"] == "media" for s in html_spans)


LAYOUT_TABLE_PAGE = b"""<html><body>
<table><tr>
  <td><a href="/1">Nav one</a> <a href="/2">Nav two</a> <a href="/3">Nav three</a></td>
  <td>
    <p>The actual story text lives inside a layout table cell, as on many
    older news sites; it is long enough and prose-like enough that the
    densitometric classifier must keep it despite the table markup.</p>
  </td>
</tr></table>
<!-- a comment that must never appear -->
<p>Trailing paragraph with &amp; entities, &quot;quotes&quot; and &#8212; dashes,
still carrying enough words to be kept as content by the classifier.</p>
</body></html>"""


def test_layout_table_and_entities():
    spans = tokenize_html(LAYOUT_TABLE_PAGE)["spans"]
    texts = [s["text"] for s in spans if s["kind"] == "text"]
    joined = " ".join(texts)
    assert any("actual story text lives inside a layout table" in t for t in texts)
    assert "Nav one" not in joined            # link-dense cell dropped
    assert "comment that must never" not in joined
    assert '"quotes"' in joined and "—" in joined and "&" in joined


def test_inline_tags_do_not_split_blocks():
    page = (b"<p>One sentence with <b>bold</b>, <i>italics</i> and "
            b"<span>inline spans</span> must remain a single block of "
            b"continuous prose text for density measurement.</p>")
    spans = tokenize_html(page)["spans"]
    assert len(spans) == 1
    assert "bold" in spans[0]["text"] and "inline spans" in spans[0]["text"]


def test_utf8_content():
    page = ("<p>" + "Acentuação e çedilha são preservadas no conteúdo " * 4
            + "</p>").encode("utf-8")
    spans = tokenize_html(page)["spans"]
    assert spans and "Acentuação" in spans[0]["text"]


# ---------------------------------------------------------------------------
# Fast-scanner equivalence (production regex scanner vs stdlib html.parser)
# ---------------------------------------------------------------------------

_ADVERSARIAL = [
    b"<p>hello &amp; goodbye</p>",
    b"<p>a < b and c>d</p>",
    b"<P CLASS='x'>UPPER TAG <IMG SRC='pic.png'/></P>",
    b'<img src="a&amp;b.png">',
    b'<img alt="x" src="1.png" src="2.png">',  # last duplicate attr wins
    b"<script>var x = '<div>not a tag</div>';</script><p>after " + b"word " * 12 + b"</p>",
    b"<style>p>span{color:red}</style><p>real " + b"word " * 12 + b"</p>",
    b"<!-- comment <p>hidden</p> --><p>seen " + b"word " * 12 + b"</p>",
    b"<!DOCTYPE html><html><body><p>" + b"word " * 15 + b"</p></body></html>",
    b"<p>one</p >\n<p>two " + b"word " * 12 + b"</p>",
    b"<p>quoted gt <a href='x>y'>link text</a> tail " + b"word " * 12 + b"</p>",
    b"<ul><li>item one here now</li><li>item two also here</li></ul>",
    b"<p>text &#65;&#x42; refs " + b"word " * 12 + b"</p>",
    b"<p>unterminated <script>var x=1;",
    b"<td>cell</td><td>more</td>",
    b"<br><br/><p>" + b"word " * 12 + b"</p>",
    b"<nav><a href='/'>home</a> <a href='/x'>x</a></nav><p>" + b"word " * 12 + b"</p>",
    "<p>é accented não ".encode("utf-8") + b"word " * 12 + b"</p>",
    b"<p>a\n<\nb " + b"word " * 12 + b"</p>",
    b"<svg><text>vector label</text></svg><p>" + b"word " * 12 + b"</p>",
    b"<noscript><p>no js</p></noscript><p>" + b"word " * 12 + b"</p>",
    b"<?php echo 'x'; ?><p>" + b"word " * 12 + b"</p>",
    b"<![CDATA[ raw <p>x</p> ]]><p>" + b"word " * 12 + b"</p>",
    b"</p></div><p>" + b"word " * 12 + b"</p>",
    b"<p attr=>empty attr " + b"word " * 12 + b"</p>",
    b"<a href=bare>bare " + b"word " * 12 + b"</a>",
    # --- round-4 review findings: stdlib-exact mid-document recovery ---
    # HTML5 abrupt comment closes: stdlib emits '<!-->' as data and parses on
    b"<p>keep " + b"word " * 12 + b"</p><!--><p>tail " + b"word " * 12 + b"</p>",
    b"<p>keep " + b"word " * 12 + b"</p><!---><p>tail " + b"word " * 12 + b"</p>",
    # unterminated comment mid-document: '<'..first '>' is one data chunk
    b"<p>keep " + b"word " * 12 + b"</p><!--x<p>tail " + b"word " * 12 + b"</p>",
    # CDATA-mode close requires a REAL '</script\\s*>' — prefixed names stay swallowed
    b"<script>var m='</scriptTag>';var w='leak " + b"word " * 12 + b"';</script><p>real "
    + b"word " * 12 + b"</p>",
    b"<script>a</scripts>b</script><p>r " + b"word " * 12 + b"</p>",
    b"<script>a</script ><p>r " + b"word " * 12 + b"</p>",
    # empty / bogus end tags are consumed silently (stdlib bogus comments)
    b"<p>b</>a " + b"word " * 12 + b"</p>",
    b"<p>b</ >a " + b"word " * 12 + b"</p>",
    b"<p>b</123>a " + b"word " * 12 + b"</p>",
    # whitespace-only chunk between two bogus '<'s: stdlib drops it ('a << b')
    b"<p>a < < b " + b"word " * 12 + b"</p>",
    # unterminated quoted attribute with a later '>': partial-tag data recovery
    b'<p foo="bar>baz t ' + b"word " * 12 + b"</p>",
    b"<a href='x<p>end " + b"word " * 12 + b"</p>",
    # quotes are plain chars inside bare attr values (stdlib tolerant grammar)
    b"<a onclick=track.something.long('abc><p>t " + b"word " * 12 + b"</p>",
    b"<a onclick=track('x');other('y')><p>t " + b"word " * 12 + b"</p>",
    # '/' and '<' are bare-value chars: 'href=x/>' is NOT self-closing
    b"<a href=x/>text " + b"word " * 12 + b"</a>",
    b"<img src=</>t " + b"word " * 12,
    # loose stdlib tag names ('<' is a name char)
    b"<div<div<p>end " + b"word " * 12 + b"</p>",
    # '=' after whitespace / after a quote-close is a name char, not a value opener
    b'<p ="bad>y ' + b"word " * 12 + b"</p>",
    b'<p a="1"b="2">y ' + b"word " * 12 + b"</p>",
    b'<p a=="x">y ' + b"word " * 12 + b"</p>",
    b"<p a==x>y " + b"word " * 12 + b"</p>",
    # '=' + ws + unterminated quote: empty value, quote starts a junk name
    b"<img src= '</>x " + b"word " * 12,
    b"<img src= '/>x " + b"word " * 12,
    b"<p a= 'sp'>y " + b"word " * 12 + b"</p>",
    # comment close is --\s*> (html.parser _commentclose)
    b"<!-- x -- ><p>t " + b"word " * 12 + b"</p>",
    b"<!-- x ----><p>t " + b"word " * 12 + b"</p>",
    # CDATA sections may contain '>'
    b"<![CDATA[a>b]]><p>w " + b"word " * 12 + b"</p>",
]


def test_fast_scanner_equivalence():
    """The production regex scanner must emit the exact span output of the
    stdlib html.parser reference path, over the synthetic corpus generator
    AND an adversarial battery (quoted '>', CDATA elements, charrefs, bogus
    '<', duplicate attrs, PIs, comments). Both drive the same _Sink, so any
    diff is an event-generation bug."""
    import random

    from pdf_extractor_spark.corpus import make_html

    rng = random.Random(20260818)
    pages = [make_html(rng, rng.randint(1, 12), rng.randint(0, 3)) for _ in range(150)]
    for page in pages + _ADVERSARIAL:
        assert tokenize_html(page, fast=True) == tokenize_html(page, fast=False), page[:120]


def test_fast_scanner_linear_on_unterminated_quotes():
    """An unterminated quoted attribute used to make the attr-body regex
    re-partition its plain-char runs exponentially (~4.5 s at 24 junk chars,
    doubling per char — an executor hang on truncated crawl payloads). The
    possessive grammar must fail tag matches in linear time."""
    import time

    payload = (
        b"<p>x " + b"word " * 12 + b"</p>"
        b"<a onclick=track.something.muchlongerthanbefore.run('" + b"a" * 80
    )
    big = b'<p ' + b'a' * 400 + b'"' + b'x' * 200_000  # never closes
    t0 = time.perf_counter()
    tokenize_html(payload, fast=True)
    tokenize_html(big, fast=True)
    assert time.perf_counter() - t0 < 1.0


def test_fast_scanner_eof_truncation_follows_html5():
    """Documented divergence: markup left open at EOF (truncated crawl
    payloads). HTML5 EOF tokenizer rules drop the unterminated fragment;
    stdlib html.parser recovers it as text. The fast scanner follows the
    spec — pin that choice."""
    assert tokenize_html(b"<p>unterminated <b", fast=True)["spans"] == []
    assert tokenize_html(b"<p>unterminated comment <!-- oops", fast=True)["spans"] == []
