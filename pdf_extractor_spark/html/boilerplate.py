"""HTML main-content extraction — boilerplate stripping via shallow text
features (text density + link density), after Kohlschütter et al., WSDM 2010
("Boilerplate Detection Using Shallow Text Features") and the jusText
heuristic family. This capability is part of the north_rule and absent from
the reference repo (SURVEY.md §2.10 note) — it is built from the published
algorithms only.

stdlib-only (html.parser); emits the same span contract as the PDF tokenizer:
``{'page_width': 0, 'page_height': 0, 'spans': [...]}`` where text spans are
kept content blocks and media spans are ``<img>`` tags (media_ref = src).
Document order is encoded in the geometry: span i gets ``y0 = -i`` so the
shared reading-order sort key (−y0, x0) preserves it."""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser
from typing import Any, Dict, List, Optional

# Elements that delimit text blocks (block-level boundaries).
_BLOCK_TAGS = {
    "p", "div", "section", "article", "main", "header", "footer", "aside",
    "nav", "h1", "h2", "h3", "h4", "h5", "h6", "li", "td", "th", "tr",
    "table", "ul", "ol", "blockquote", "pre", "figure", "figcaption", "br",
}
_SKIP_CONTENT = {"script", "style", "noscript", "template", "svg", "head"}
# Boilerplate-prone containers: text inside them needs stronger evidence.
_BOILER_TAGS = {"nav", "footer", "aside", "header"}

# Classification thresholds (Kohlschütter-style densitometric rules).
MAX_LINK_DENSITY = 0.33
MIN_TEXT_DENSITY = 3.0  # words per 80-char wrapped line
MIN_WORDS_SHORT = 10  # short blocks need ≥ this many words
LINE_WIDTH = 80.0


class _Block:
    __slots__ = ("chars", "link_chars", "words", "boiler_depth", "order")

    def __init__(self, order: int, boiler_depth: int) -> None:
        self.chars: List[str] = []
        self.link_chars = 0
        self.words = 0
        self.boiler_depth = boiler_depth
        self.order = order


_WS_RUN = re.compile(r"\s+")
# any whitespace that the collapse would actually change: a run of two, or
# any single whitespace char that is not a plain space
_WS_ODD = re.compile(r"\s\s|[^\S ]")


class _Sink:
    """The densitometric event consumer — shared verbatim by BOTH parsers
    (stdlib `html.parser` and the fast regex scanner below), so the two
    paths can only differ in event *generation*, never in classification."""

    __slots__ = ("blocks", "media", "_skip", "_link", "_boiler", "_order", "_cur")

    def __init__(self) -> None:
        self.blocks: List[_Block] = []
        self.media: List[Dict[str, Any]] = []  # (order, src)
        self._skip = 0
        self._link = 0
        self._boiler = 0
        self._order = 0
        self._cur: Optional[_Block] = None

    def _flush(self) -> None:
        self._cur = None

    def _block(self) -> _Block:
        if self._cur is None:
            self._cur = _Block(self._order, self._boiler)
            self._order += 1
            self.blocks.append(self._cur)
        return self._cur

    def starttag(self, tag: str, attrs) -> None:
        if tag in _SKIP_CONTENT:
            self._skip += 1
            return
        if tag == "img":
            src = dict(attrs).get("src") or ""
            self.media.append({"order": self._order, "src": src})
            self._order += 1
            return
        if tag == "a":
            self._link += 1
        if tag in _BOILER_TAGS:
            self._boiler += 1
        if tag in _BLOCK_TAGS:
            self._flush()

    def endtag(self, tag: str) -> None:
        if tag in _SKIP_CONTENT:
            self._skip = max(0, self._skip - 1)
            return
        if tag == "a":
            self._link = max(0, self._link - 1)
        if tag in _BOILER_TAGS:
            self._boiler = max(0, self._boiler - 1)
        if tag in _BLOCK_TAGS:
            self._flush()

    def data(self, data: str) -> None:
        if self._skip:
            return
        # collapse only when needed: most chunks are already single-spaced
        # words, and the no-op sub still scans + allocates a copy
        if _WS_ODD.search(data) is None:
            text = data
        else:
            text = _WS_RUN.sub(" ", data)
        # past this point every whitespace char in `text` is a single ASCII
        # space (no two adjacent): all-whitespace text is exactly " ", and
        # the word count is the space count + 1, less one per boundary
        # space — same value as len(text.split()) without building the list
        if not text or text == " ":
            return
        b = self._block()
        b.chars.append(text)
        n = len(text)
        w = text.count(" ") + 1
        if text[0] == " ":
            w -= 1
        if text[-1] == " ":
            w -= 1
        b.words += w
        if self._link:
            b.link_chars += n


class _Extractor(HTMLParser):
    """stdlib-driven reference path (kept as the equivalence oracle for the
    fast scanner; see tests/test_html.py::test_fast_scanner_equivalence)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.sink = _Sink()

    def handle_starttag(self, tag: str, attrs) -> None:
        self.sink.starttag(tag, attrs)

    def handle_endtag(self, tag: str) -> None:
        self.sink.endtag(tag)

    def handle_data(self, data: str) -> None:
        self.sink.data(data)


def _classify(b: _Block) -> bool:
    """True if the block is main content (densitometric rules)."""
    text = "".join(b.chars).strip()
    n_chars = len(text)
    if n_chars == 0:
        return False
    link_density = b.link_chars / n_chars
    lines = max(1.0, n_chars / LINE_WIDTH)
    text_density = b.words / lines
    if link_density > MAX_LINK_DENSITY:
        return False
    if b.boiler_depth > 0:
        # nav/footer/aside text only survives with strong prose signals
        return b.words >= 30 and text_density >= MIN_TEXT_DENSITY and link_density < 0.1
    if b.words >= MIN_WORDS_SHORT:
        return True
    return text_density >= MIN_TEXT_DENSITY


# ---------------------------------------------------------------------------
# Fast regex scanner (the production event generator)
# ---------------------------------------------------------------------------
# One alternation, ordered by specificity; quoted attribute values may
# contain '>'. The attr body's branches are first-char-disjoint AND
# possessive (*+ / ++, Python 3.11 re): a failed tag match — e.g. an
# unterminated quoted attribute in a truncated crawl payload — fails in
# linear time instead of re-partitioning the plain-char runs
# exponentially (the (a+)* classic; measured 4.5 s at 24 chars and
# doubling per char with the backtracking form).
# Comment close is --\s*> (what html.parser's _commentclose accepts, so
# '<!-- x -- >' closes in both). A comment or marked section whose close
# never appears matches the zero-width (cbad|dbad) branch and is handled
# in _scan_fast: stdlib emits '<'..first '>' as one raw data chunk and
# resumes — which is also what makes the HTML5 abrupt closes <!--> and
# <!---> come out identically in both parsers — while EOF truncation
# (no '>' left at all) keeps the pinned HTML5 drop-the-fragment rule.
_MARKUP_RE = re.compile(
    r"""<(?:
        !--(?:.*?--\s*>|(?P<cbad>))                       # comment (unterminated/abrupt → bad-decl path)
      | !\[CDATA\[(?:.*?\]\]>|(?P<dbad>))                 # CDATA, dropped (unterminated → bad-decl path)
      | [!?](?!--)[^>]*(?:>|$)                            # doctype / decl / PI
      | /\s*(?P<end>[a-zA-Z][^\s/>\x00]*+)[^>]*(?:>|$)    # end tag (loose stdlib name class)
      | /(?![a-zA-Z])[^>]*(?:>|$)                         # bogus end tag (</>, </ >, </1>): consumed, no event
      | (?P<tag>[a-zA-Z][^\s/>\x00]*+)                    # start tag name (stdlib tagfind_tolerant class — '<' and quotes are name chars)
        (?P<attrs>(?:\s++                                 #   attr body:
          |(?<=[^\s>/='"])=++\s*+"[^"]*+"                 #   '='+ after a name char opens a quoted value...
          |(?<=[^\s>/='"])=++\s*+'[^']*+'
          |(?<=[^\s>/='"])=++(?![\s'"])[^>\s]*+           #   ...or a bare one directly attached ('<', '/', '=' are value chars, so 'a=b/>' is NOT self-closing)
          |(?<=[^\s>/='"])=++(?=\s++['"])\s++             #   '=' + ws + unterminated quote: EMPTY value, the quote starts a junk name (closed quotes matched above)
          |(?<=[^\s>/='"])=++\s++(?!['"])[^>\s]*+         #   '=' + ws + bare value
          |(?<=[^\s>/='"])==++(?=['"])[^>\s]*+            #   '=='+quote: stdlib backtracks =+ and bare-reads '=<quote>...' — only a SINGLE '=' + directly-attached unterminated quote fails the tag
          |(?<![^\s>/='"])=                               #   '=' after ws or a quote-close is a plain name char (stdlib tolerant grammar)
          |/(?!>)
          |[^\s>/=]++                                     #   name / bare-value chars — quotes are plain here too
        )*+)
        (?P<sc>/?)(?:>|$)                                 #   self-closing?
      | (?=[a-zA-Z])(?P<tbad>)                            # start tag the grammar rejects (unterminated quote): stdlib-style recovery
    )""",
    re.DOTALL | re.VERBOSE,
)
# attribute parsing only ever feeds dict(attrs).get("src") on <img> — names
# lowercased, values unquoted + charref-decoded, LAST duplicate wins, exactly
# what html.parser hands handle_starttag
_ATTR_RE = re.compile(
    r"""([^\s/=>]+)(?:\s*=+\s*("[^"]*"|'[^']*'|(?!['"])[^\s>]*))?""", re.DOTALL
)
# script/style are CDATA elements: stdlib swallows everything (tags included)
# until a REAL matching close tag — its endtagfind requires '</', optional
# whitespace, the exact name, optional whitespace, '>' (so '</scriptTag>'
# or '</scripts>' stays swallowed CDATA, as does '</script foo>'); a bare
# prefix search would end the element early and leak script source into
# the extracted text
_CDATA_CLOSE = {
    "script": re.compile(r"</\s*script\s*>", re.IGNORECASE),
    "style": re.compile(r"</\s*style\s*>", re.IGNORECASE),
}


def _parse_attrs(body: str) -> List:
    attrs = []
    for m in _ATTR_RE.finditer(body):
        name = m.group(1).lower()
        val = m.group(2)
        if val is None:
            attrs.append((name, None))
            continue
        if val[:1] in ("'", '"') and val[-1:] == val[:1] and len(val) >= 2:
            val = val[1:-1]
        if "&" in val:
            val = unescape(val)
        attrs.append((name, val))
    return attrs


def _emit_text(text: str, sink: _Sink) -> None:
    """Emit a raw text run with stdlib html.parser's chunk boundaries.

    stdlib emits each bogus '<' as its own 1-char data chunk with the text
    around it in separate chunks; the boundaries are sink-visible because a
    whitespace-ONLY chunk is dropped entirely ('a < < b' keeps the middle
    space in one big chunk but loses it as a stdlib-split chunk, yielding
    'a << b'). Charrefs decode per piece, exactly as convert_charrefs
    decodes per data chunk (an &lt; produced by decoding is data, never a
    chunk boundary, in both parsers)."""
    if "<" not in text:
        sink.data(unescape(text) if "&" in text else text)
        return
    pieces = text.split("<")
    p = pieces[0]
    if p:
        sink.data(unescape(p) if "&" in p else p)
    for p in pieces[1:]:
        sink.data("<")
        if p:
            sink.data(unescape(p) if "&" in p else p)


def _scan_fast(data: str, sink: _Sink) -> None:
    """Drive the sink with the same event stream html.parser produces.

    Equivalence argument (pinned by test_fast_scanner_equivalence over the
    synthetic corpus, the HTML test pages, and an adversarial battery):
    * data chunks are the runs between markup matches, split at bogus '<'
      characters exactly as stdlib chunks them (_emit_text);
    * charrefs decode with html.unescape, the same table convert_charrefs
      uses, and never straddle a chunk boundary in either parser;
    * `<x/>` fires starttag then endtag, matching handle_startendtag's
      default; tag names lowercase; end-tag attributes are discarded;
    * script/style swallow raw content up to a real matching close tag
      (stdlib CDATA mode); the sink discards it either way (_SKIP_CONTENT);
    * a comment/marked section whose close never appears is replayed the
      way stdlib's goahead recovers it: the text from '<' through the
      first '>' is ONE raw data chunk and scanning resumes after it
      (which covers the HTML5 abrupt closes <!--> and <!---> too);
    * the ONE documented divergence is EOF truncation (no '>' remains):
      the fast path drops the fragment per HTML5 EOF tokenizer rules
      where stdlib recovers it as text
      (test_fast_scanner_eof_truncation_follows_html5).
    """
    pos = 0
    n = len(data)
    search = _MARKUP_RE.search
    while pos < n:
        m = search(data, pos)
        if m is None:
            if pos < n:
                _emit_text(data[pos:], sink)
            return
        start = m.start()
        if start > pos:
            _emit_text(data[pos:start], sink)
        # one attribute read instead of per-name group() calls: the last
        # matched named group identifies the branch ('sc' for start tags —
        # its /? always participates — 'end' for end tags, a *bad name for
        # the recovery branches, None for silently-consumed constructs)
        branch = m.lastgroup
        if branch in ("cbad", "dbad", "tbad"):
            # comment / marked section with no close anywhere ahead, or a
            # start tag the grammar rejects (= followed by an unterminated
            # quote): stdlib recovers '<' through the first '>' as ONE raw
            # data chunk and resumes after it
            gt = data.find(">", start + 1)
            if gt == -1:
                return  # EOF-truncated: HTML5 drops the fragment (pinned)
            chunk = data[start : gt + 1]  # stdlib unescapes this chunk too
            sink.data(unescape(chunk) if "&" in chunk else chunk)
            pos = gt + 1
            continue
        pos = m.end()
        if branch == "sc":
            tag = m.group("tag").lower()
            if tag == "img":
                attr_body = m.group("attrs")
                attrs = _parse_attrs(attr_body) if attr_body else []
            else:
                attrs = []
            sink.starttag(tag, attrs)
            if m.group("sc"):
                sink.endtag(tag)
            elif tag in _CDATA_CLOSE:
                c = _CDATA_CLOSE[tag].search(data, pos)
                if c is None:
                    return  # unterminated script/style: rest is raw CDATA
                pos = c.end()
                sink.endtag(tag)
        elif branch == "end":
            sink.endtag(m.group("end").lower())
        # comments / decls / PIs / bogus end tags: consumed, no event


def _extract_events(data: str, fast: bool = True) -> _Sink:
    if fast:
        sink = _Sink()
        _scan_fast(data, sink)
        return sink
    ex = _Extractor()
    ex.feed(data)
    ex.close()
    return ex.sink


def tokenize_html(data: Any, fast: bool = True) -> Dict[str, Any]:
    """HTML bytes/str → the common tokenized struct (never raises).

    ``fast=True`` (production) scans with the regex tokenizer above —
    measured ~3x the stdlib parser on the synthetic corpus, same events;
    ``fast=False`` runs the stdlib reference path (the equivalence oracle)."""
    empty = {"page_width": 0.0, "page_height": 0.0, "spans": []}
    if data is None:
        return empty
    if isinstance(data, (bytes, bytearray)):
        try:
            data = bytes(data).decode("utf-8")
        except UnicodeDecodeError:
            data = bytes(data).decode("latin-1")
    try:
        ex = _extract_events(data, fast=fast)
    except Exception:
        return empty
    spans: List[Dict[str, Any]] = []
    for b in ex.blocks:
        if not _classify(b):
            continue
        text = "".join(b.chars).strip()
        spans.append(
            {
                "kind": "text", "text": text, "media_ref": None,
                "x0": 0.0, "y0": float(-b.order), "x1": 0.0,
                "y1": float(-b.order), "size": 0.0,
            }
        )
    for m in ex.media:
        spans.append(
            {
                "kind": "media", "text": None, "media_ref": m["src"],
                "x0": 0.0, "y0": float(-m["order"]), "x1": 0.0,
                "y1": float(-m["order"]), "size": 0.0,
            }
        )
    return {"page_width": 0.0, "page_height": 0.0, "spans": spans}
