"""HTML main-content extraction: DOM tokenize → block scoring → kept blocks.

Readability/Boilerpipe-style boilerplate stripping mandated by the north
rule (BASELINE.json ``north_star``): a DOM tokenizer feeding text-density +
link-density block classification.  Built on the stdlib ``html.parser``
(no lxml/selectolax in this environment); the tokenizer is a single pass,
batch-friendly, and fully deterministic.

Classification rules (pinned — the oracle contract):

* blocks under ``nav/header/footer/aside`` ancestors are boilerplate;
* ``script/style/noscript/template/svg/head`` subtrees are invisible;
* link_density = link_chars / chars; a block with link_density > 1/3 is
  boilerplate (link-farm / menu);
* a block with fewer than 5 words that contains at least one link is
  boilerplate (breadcrumbs, "read more" stubs);
* headings (h1-h6) are kept unless link-dominated (link_density ≥ 2/3);
* ``<img>`` produces a figure block (text = alt, ref = src) unless inside
  boilerplate — the span-bookkeeping analog of the reference's image
  annotations (reference info_extraction/to_markdown.py:5-11);
* ``<table>`` rows are flattened to ``cell | cell`` lines, one table block.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from mistral_ocr_pipeline_spark.extractors.blocks import (
    FIGURE,
    HEADING,
    PARAGRAPH,
    TABLE,
    Block,
)
from mistral_ocr_pipeline_spark.extractors.textnorm import collapse_ws, nfc

_BLOCK_TAGS = {
    "p", "div", "section", "article", "main", "li", "ul", "ol",
    "blockquote", "pre", "figcaption", "dt", "dd",
    "h1", "h2", "h3", "h4", "h5", "h6",
}
_HEADING_TAGS = {"h1", "h2", "h3", "h4", "h5", "h6"}
_BOILER_TAGS = {"nav", "header", "footer", "aside"}
_SKIP_TAGS = {"script", "style", "noscript", "template", "svg", "head"}
_VOID_BREAKERS = {"br", "hr"}

MAX_LINK_DENSITY = 1.0 / 3.0
MIN_WORDS_WITH_LINK = 5
HEADING_MAX_LINK_DENSITY = 2.0 / 3.0

_HTML_SNIFF_RE = re.compile(
    r"(?is)<\s*(!doctype|html|head|body|div|p|nav|article|section|h[1-6]|ul|table)\b"
)


def looks_like_html(text: str) -> bool:
    """Payload-family sniff (analog of the reference's PDF-vs-image dispatch,
    reference info_extraction/get_annotations.py:189-220)."""
    return bool(_HTML_SNIFF_RE.search(text))


class _Candidate:
    __slots__ = ("tag", "chunks", "link_chars", "boiler")

    def __init__(self, tag: str, boiler: bool) -> None:
        self.tag = tag
        self.chunks: list[str] = []
        self.link_chars = 0
        self.boiler = boiler


class _BlockParser(HTMLParser):
    """Single-pass DOM tokenizer emitting candidate blocks in document order."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.out: list[tuple[str, _Candidate | Block]] = []
        self._cur: _Candidate | None = None
        self._skip = 0
        self._boiler = 0
        self._anchor = 0
        self._table = 0
        self._rows: list[list[str]] = []
        self._cell: list[str] | None = None
        self._table_chars = 0
        self._table_link_chars = 0

    # -- block lifecycle -------------------------------------------------
    def _flush(self) -> None:
        if self._cur is not None:
            self.out.append(("cand", self._cur))
            self._cur = None

    def _open(self, tag: str) -> None:
        self._flush()
        self._cur = _Candidate(tag, self._boiler > 0)

    # -- parser callbacks ------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _SKIP_TAGS:
            self._skip += 1
            return
        if self._skip:
            return
        if tag in _BOILER_TAGS:
            self._flush()
            self._boiler += 1
            return
        if tag == "a":
            self._anchor += 1
            return
        if tag == "img":
            alt = src = ""
            for k, v in attrs:
                if k == "alt":
                    alt = v or ""
                elif k == "src":
                    src = v or ""
            if self._boiler == 0 and self._skip == 0:
                self._flush()
                self.out.append(
                    ("block", Block(FIGURE, collapse_ws(nfc(alt)), ref=src))
                )
            return
        if tag == "table":
            self._flush()
            self._table += 1
            if self._table == 1:
                self._rows, self._cell = [], None
                self._table_chars = self._table_link_chars = 0
            return
        if self._table:
            if tag == "tr":
                self._rows.append([])
            elif tag in ("td", "th"):
                self._cell = []
            return
        if tag in _VOID_BREAKERS:
            if self._cur is not None:
                self._cur.chunks.append(" ")
            return
        if tag in _BLOCK_TAGS:
            self._open(tag)

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_TAGS:
            self._skip = max(0, self._skip - 1)
            return
        if self._skip:
            return
        if tag in _BOILER_TAGS:
            self._boiler = max(0, self._boiler - 1)
            return
        if tag == "a":
            self._anchor = max(0, self._anchor - 1)
            return
        if tag == "table":
            self._table = max(0, self._table - 1)
            if self._table == 0:
                rows = [" | ".join(r) for r in self._rows if r]
                text = "\n".join(rows)
                if text and not (self._boiler > 0):
                    density = (
                        self._table_link_chars / self._table_chars
                        if self._table_chars
                        else 0.0
                    )
                    if density <= MAX_LINK_DENSITY:
                        self.out.append(("block", Block(TABLE, text)))
                self._rows, self._cell = [], None
            return
        if self._table:
            if tag in ("td", "th") and self._cell is not None:
                cell = collapse_ws(nfc("".join(self._cell)))
                if self._rows:
                    self._rows[-1].append(cell)
                self._cell = None
            return
        if tag in _BLOCK_TAGS:
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._skip or not data:
            return
        if self._table:
            if self._cell is not None:
                self._cell.append(data)
                n = len(collapse_ws(data))
                self._table_chars += n
                if self._anchor:
                    self._table_link_chars += n
            return
        if self._boiler:
            return
        if self._cur is None:
            if not data.strip():
                return
            self._open("p")  # bare text outside any block tag
        self._cur.chunks.append(data)
        if self._anchor:
            self._cur.link_chars += len(collapse_ws(data))

    def close(self) -> None:  # flush trailing block
        super().close()
        self._flush()


def _classify(c: _Candidate) -> Block | None:
    text = collapse_ws(nfc("".join(c.chunks)))
    if not text or c.boiler:
        return None
    chars = len(text)
    density = min(1.0, c.link_chars / chars) if chars else 0.0
    if c.tag in _HEADING_TAGS:
        if density >= HEADING_MAX_LINK_DENSITY:
            return None
        return Block(HEADING, text, ref=c.tag, level=int(c.tag[1]))
    words = len(text.split(" "))
    if density > MAX_LINK_DENSITY:
        return None
    if words < MIN_WORDS_WITH_LINK and c.link_chars > 0:
        return None
    return Block(PARAGRAPH, text)


# ---------------------------------------------------------------------------
# Fast tokenizer: one regex scan driving the SAME handler methods
# ---------------------------------------------------------------------------
# The stdlib html.parser spends most of its time in per-tag Python
# bookkeeping (goahead/parse_starttag/updatepos — 65% of the whole
# extraction kernel under cProfile).  The scanner decides on its own only
# what one _TOKEN_RE match settles: text (charrefs decoded), end tags of
# html.parser's well-formed ``endtagfind`` shape, and STRICT start tags
# (tag name lowercased, self-closing tags emitting start+end).  Every other
# '<' — comments, doctypes, PIs, CDATA sections, tolerant start and end
# tags, unterminated constructs, a stray '<' — and the raw text of script/
# style go to html.parser's own methods on the same _BlockParser, so the
# fast path cannot drift from the ``tokenizer="stdlib"`` reference there.
# Parity is pinned by a hypothesis property test (test_property_extractors
# .py) and the golden suite.

_TOKEN_RE = re.compile(
    r"""
      </\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>        # end tag          -> group 1
    | <([a-zA-Z][-a-zA-Z0-9_:.]*)(?=[\t\n\r\f />])  # STRICT start tag -> group 2
        ((?:\s+[a-zA-Z_:][-a-zA-Z0-9_:.]*       #   attr name
            (?:=(?:"[^"<>]*"                    #   ="..." value
                |'[^'<>]*'                      #   ='...' value
                |[-a-zA-Z0-9_./:;,+#%?&~]*      #   =bare value (no quotes)
            ))?
         )*)\s*(/?)>                            #   attrs -> 3, '/' -> 4
    | ([^<]+)                                   # text             -> group 5
    | <                                         # other markup: html.parser
    """,
    re.DOTALL | re.VERBOSE,
)
# The STRICT start-tag alternative is (a) linear-time — every branch of the
# attr loop is first-char-disjoint (the r01 blob pattern
# ``(?:"[^"]*"|'[^']*'|[^>])*`` let a quote match two branches, giving
# exponential backtracking on an unclosed quoted tag: time doubled per
# added quote) — and (b) provably equivalent to html.parser on the inputs
# it accepts: every char class is a subset of the stdlib tolerant charsets
# (tagfind_tolerant / attrfind_tolerant), the tag name ends where the
# stdlib's does (the lookahead admits only its terminators: ASCII
# whitespace other than \v, '/' and '>'), each attr is space-preceded (so
# the stdlib lookbehind ``(?<=['"\s/])`` holds) and single-'=' (so ``=+``
# consumes identically), so locatestarttagend_tolerant consumes exactly the
# same span and ends on the same '>'.  The '/' of group 4 self-closes as in
# html.parser: a bare value takes a trailing '/' (<img alt=plain/> gives
# alt='plain/'), which leaves group 4 empty.  The end-tag alternative is
# the stdlib's own ``endtagfind``.  Anything else — unclosed quotes, '>'
# inside quoted values, '='-less junk, bogus constructs — is left to
# ``_markup``.

_ATTR_RE = re.compile(
    r"""([a-zA-Z][a-zA-Z0-9:._-]*)\s*(?:=\s*("([^"]*)"|'([^']*)'|[^\s>]*))?""",
    re.VERBOSE,
)


def _unescape(s: str) -> str:
    if "&" in s:  # plain `in` beats a regex probe on the no-charref fast path
        from html import unescape

        return unescape(s)
    return s


def _parse_attrs(blob: str) -> list[tuple[str, str | None]]:
    attrs = []
    for m in _ATTR_RE.finditer(blob):
        name = m.group(1).lower()
        if m.group(2) is None:
            attrs.append((name, None))
        elif m.group(3) is not None:
            attrs.append((name, _unescape(m.group(3))))
        elif m.group(4) is not None:
            attrs.append((name, _unescape(m.group(4))))
        else:
            attrs.append((name, _unescape(m.group(2))))
    return attrs


def _drive_fast(p: _BlockParser, html_text: str) -> None:
    # branch dispatch on m.lastindex (highest group that matched) instead of
    # extracting all groups per token: the alternation's matched branch is
    # known from one int — 5=text, 4=strict start tag (group 4 always
    # participates, even empty), 1=end tag, None=other markup.  Ordered by
    # frequency; measured ~15% off the whole tokenize loop on fixture docs.
    p.rawdata = html_text  # what html.parser's parse_* methods read
    pos, n = 0, len(html_text)
    while pos < n:
        m = _TOKEN_RE.match(html_text, pos)
        if m is None:  # cannot happen (the last alternation is a catch-all)
            break
        start, pos = pos, m.end()  # match is anchored: m.start() == pos
        li = m.lastindex
        if li == 5:  # text
            p.handle_data(_unescape(m.group(5)))
            continue
        if li == 4:  # strict start tag
            tag = m.group(2).lower()
            # img is the only tag whose attributes the consumer reads
            attrs = _parse_attrs(m.group(3)) if tag == "img" else []
            p.handle_starttag(tag, attrs)
            if m.group(4):
                p.handle_endtag(tag)
            elif tag in p.CDATA_CONTENT_ELEMENTS:
                p.set_cdata_mode(tag)
        elif li == 1:  # end tag
            p.handle_endtag(m.group(1).lower())
            continue
        else:  # other markup (it may open script/style too)
            pos = _markup(p, start)
        if p.cdata_elem is not None:
            pos = _raw_text(p, pos)


def _markup(p: _BlockParser, i: int) -> int:
    """html.parser's handling of the '<' at ``i``: ``goahead``'s dispatch
    to its ``parse_*`` methods, then, where one returns -1 (the construct
    never closes), goahead's end-of-input recovery, which emits the raw
    text up to and including the next '>' (else to the next '<', else one
    char) as data.  Returns the resume position."""
    rawdata = p.rawdata
    c = rawdata[i + 1 : i + 2]
    if c.isascii() and c.isalpha():
        k = p.parse_starttag(i)
    elif c == "/":
        k = p.parse_endtag(i)
    elif rawdata.startswith("<!--", i):
        k = p.parse_comment(i)
    elif c == "?":
        k = p.parse_pi(i)
    elif c == "!":
        k = p.parse_html_declaration(i)
    else:  # a '<' that opens nothing, the last char included, is data
        p.handle_data("<")
        return i + 1
    if k < 0:
        k = rawdata.find(">", i + 1)
        if k < 0:
            k = rawdata.find("<", i + 1)
            k = k if k >= 0 else i + 1
        else:
            k += 1
        p.handle_data(_unescape(rawdata[i:k]))
    return k


def _raw_text(p: _BlockParser, pos: int) -> int:
    """html.parser's CDATA mode for the open script/style element: its
    content up to the matching end tag is data, and ``parse_endtag`` closes
    the element and the mode.  Without an end tag the rest of the document
    is the element's content, which no block keeps (``_SKIP_TAGS``).
    Returns the resume position."""
    end = p.interesting.search(p.rawdata, pos)
    if end is None:
        return len(p.rawdata)
    p.handle_data(p.rawdata[pos : end.start()])
    return p.parse_endtag(end.start())


def extract_html_blocks(html_text: str, tokenizer: str = "fast") -> list[Block]:
    """Tokenize + classify; returns kept blocks in document order.

    ``tokenizer="fast"`` (default) scans with one compiled regex driving
    the same handler callbacks; ``"stdlib"`` keeps the html.parser path
    (the parity reference).  Tolerant of truncated/malformed markup; a
    hard parser failure propagates to the dispatcher's error channel
    (analog of the reference's per-document failure capture, main.py:304-311).
    """
    p = _BlockParser()
    if tokenizer == "fast":
        _drive_fast(p, html_text)
        p._flush()
    else:
        p.feed(html_text)
        p.close()
    blocks: list[Block] = []
    for kind, item in p.out:
        if kind == "block":
            b = item
            if b.kind == FIGURE and not b.text and not b.ref:
                continue
            blocks.append(b)
        else:
            b = _classify(item)
            if b is not None:
                blocks.append(b)
    return blocks
