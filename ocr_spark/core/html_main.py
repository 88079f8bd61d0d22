"""HTML main-content extraction: boilerplate stripping with block scoring.

Boilerpipe/readability-style heuristic over one forward pass of
``html.parser``-equivalent events (lxml is not available in this
environment):

1. Segment the document into text blocks at block-level tag boundaries
   (``p``, ``div``, ``li``, ``h1-6``, ``td``, ``br`` …).
2. Score each block: word count + link density (chars of text inside
   ``<a>`` / total chars).
3. Drop blocks that live inside structural boilerplate containers
   (``nav``/``header``/``footer``/``aside``), link-farm blocks
   (link density ≥ 0.34), and trivially short blocks (< 3 words).
4. Emit kept blocks in document order with exact char spans into the RAW
   html string (entity-aware, CRLF-aware).

This generalizes the reference's "table region detection" + per-category
gating (W11 block spans + P3 confidence gate, SURVEY.md §2.4/§2.2):
region segmentation, per-region score, keep/drop — but over HTML blocks
with density scoring instead of regex-bounded invoice tables.

Events come from ``_scan``, a regex tokenizer that reproduces the stdlib
parser's event stream with native absolute offsets for the token shapes
that make up nearly every real page: a ``[^<&]+`` data run, a start tag
that is bare (``<p>``) or carries only `` name="value"`` attributes (one
space before each, double-quoted values), a strict end tag (``</p>``,
``</ p >``), and a character or entity reference (``&#8212;``,
``&amp;``). ``script``/``style`` content is skipped to its close tag.

At the first token of any other shape — comments, declarations,
processing instructions, marked sections, ``/>`` tags, other attribute
forms, tolerant or unterminated tags, stray ``<``/``&`` —
``extract_html`` drops the partial result and runs the whole document
through ``extract_html_reference``: the same block builder driven by the
stdlib ``HTMLParser`` itself, which is also the reference the fast path
is equality-tested against. There ``HTMLParser.getpos()`` returns
(1-based line, 0-based col) against the fed string, converted to
absolute char offsets through a precomputed line-start table of the raw
text. Spans therefore always index the raw payload (SURVEY.md §7 hard
part (a)).
"""

from __future__ import annotations

import html as _html
import re
from html.parser import HTMLParser

from ocr_spark.core.normalize import collapse_all_ws, fix_confusables, normalize_unicode

# Content inside these elements is never text content.
_SKIP_TAGS = frozenset({"script", "style", "noscript", "template", "head", "title", "svg"})
# Structural boilerplate containers: blocks opened inside them are dropped.
_BOILER_TAGS = frozenset({"nav", "header", "footer", "aside"})
# Tags whose open/close ends the current text block.
_BLOCK_TAGS = frozenset({
    "html", "body", "main", "article", "section", "div", "p", "br", "hr",
    "table", "thead", "tbody", "tfoot", "tr", "td", "th", "ul", "ol", "li",
    "dl", "dt", "dd", "h1", "h2", "h3", "h4", "h5", "h6", "blockquote",
    "pre", "form", "figure", "figcaption", "address",
})

_MIN_WORDS = 3
_MIN_SOLID_CHARS = 12  # unsegmented-script fallback (no whitespace words)
_MAX_LINK_DENSITY = 0.34

# Per-tag behavior folded into one flags int so the builder's tag
# events cost ONE dict probe instead of 3-4 frozenset tests (tag
# events run ~100k/sec in the hot extraction loop). Semantics are
# bit-for-bit the membership tests above — the flag application order
# below mirrors the original if-chain order exactly.
_F_BLOCK, _F_SKIP, _F_BOILER, _F_LINK = 1, 2, 4, 8
_TAG_FLAGS: dict[str, int] = {}
for _t in _BLOCK_TAGS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_BLOCK
for _t in _SKIP_TAGS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_SKIP
for _t in _BOILER_TAGS:
    _TAG_FLAGS[_t] = _TAG_FLAGS.get(_t, 0) | _F_BOILER
_TAG_FLAGS["a"] = _TAG_FLAGS.get("a", 0) | _F_LINK


class _BlockBuilder:
    """The block-segmentation/scoring state machine, parser-agnostic:
    driven by (tag flags, data-with-offsets) events from either the
    stdlib ``HTMLParser`` adapter (the behavioral reference) or the
    fast regex tokenizer below. One implementation of the semantics,
    two event sources — equality asserted corpus-wide in tests.

    Tag events take the tag's ``_TAG_FLAGS`` value, so a caller skips
    the call for a tag without flags. Each closed block is scored on
    the spot: kept blocks land in ``texts``/``spans``, the rest count
    in ``dropped``."""

    def __init__(self) -> None:
        self._skip_depth = 0
        self._boiler_depth = 0
        self._link_depth = 0
        self._chunks: list[str] = []  # decoded text of the open block
        self._start = 0  # raw offset of the open block's first chunk
        self._end = 0    # raw offset one past its last chunk
        self._block_boiler = False
        self._block_link_chars = 0
        self.texts: list[str] = []
        self.spans: list[tuple[int, int]] = []
        self.dropped = 0

    # -- block lifecycle ------------------------------------------------
    def _flush(self) -> None:
        """Close the open block. Callers check ``_chunks`` first: with
        no chunk the block state is already reset, so there is nothing
        to do."""
        decoded = "".join(self._chunks)
        self._chunks = []
        link_chars = self._block_link_chars
        boiler = self._block_boiler
        self._block_link_chars = 0
        self._block_boiler = False
        if decoded.isspace():
            # normalization maps every isspace() char to \s and the
            # collapse strips the rest: no block, skip the passes
            return
        normalized = normalize_unicode(fix_confusables(decoded))
        words = normalized.split()
        if not words:
            return
        text = " ".join(words)  # collapse_all_ws(normalized)
        # word-count gate fails for unsegmented scripts (CJK/Thai have
        # no spaces) — a 12+ non-space-char block passes regardless of
        # word segmentation; short junk ("Read more") stays dropped
        kept = not boiler and (
            len(words) >= _MIN_WORDS
            or len(text.replace(" ", "")) >= _MIN_SOLID_CHARS
        )
        if kept and link_chars:
            # total is the collapsed length of the RAW decoded text;
            # when normalization was an identity (the common case) that
            # equals len(text) — skip the second collapse pass
            # (> 0: decoded has a non-space char)
            total = len(text) if normalized == decoded else len(collapse_all_ws(decoded))
            kept = min(link_chars, total) / total < _MAX_LINK_DENSITY
        if kept:
            self.texts.append(text)
            self.spans.append((self._start, self._end))
        else:
            self.dropped += 1

    def add(self, start: int, end: int, decoded: str) -> None:
        if self._skip_depth or not decoded:
            return
        if not self._chunks:
            self._block_boiler = self._boiler_depth > 0
            self._start = start
        self._chunks.append(decoded)
        self._end = end
        if self._link_depth:
            self._block_link_chars += len(collapse_all_ws(decoded))

    # -- tag events (flag branches in the order of the original
    # membership-test chain) ---------------------------------------------
    def start(self, f: int) -> None:
        if f & _F_BLOCK and self._chunks:
            self._flush()
        if f & _F_SKIP:
            self._skip_depth += 1
        if f & _F_BOILER:
            if self._chunks:
                self._flush()
            self._boiler_depth += 1
        if f & _F_LINK:
            self._link_depth += 1

    def end(self, f: int) -> None:
        if f & _F_BLOCK and self._chunks:
            self._flush()
        if f & _F_SKIP and self._skip_depth > 0:
            self._skip_depth -= 1
        if f & _F_BOILER and self._boiler_depth > 0:
            if self._chunks:
                self._flush()
            self._boiler_depth -= 1
        if f & _F_LINK and self._link_depth > 0:
            self._link_depth -= 1

    def startend(self, f: int) -> None:
        if f & _F_BLOCK and self._chunks:
            self._flush()

    def result(self) -> tuple[str, list[tuple[int, int]], int, int]:
        """Close the last block → (extracted_text, spans, blocks_kept,
        blocks_dropped)."""
        if self._chunks:
            self._flush()
        return "\n".join(self.texts), self.spans, len(self.texts), self.dropped


def _decode_charref(name: str) -> str:
    """'&#NNN'/'&#xHH' numeric reference name → character ('' if out of
    range or a surrogate — chr(0xD800-0xDFFF) would crash utf-8
    encoding downstream, violating extract_turn's never-raises
    contract)."""
    try:
        cp = int(name[1:], 16) if name[0] in "xX" else int(name)
        if 0 < cp <= 0x10FFFF and not (0xD800 <= cp <= 0xDFFF):
            return chr(cp)
    except ValueError:
        pass
    return ""


class _MainContentParser(HTMLParser):
    """stdlib-parser event source: the general fallback for every
    document the fast tokenizer does not take, and the behavioral
    reference it is equality-tested against."""

    def __init__(self, raw: str):
        # convert_charrefs=False so entity/charref callbacks fire with
        # their own positions — needed for exact raw spans.
        super().__init__(convert_charrefs=False)
        self._raw = raw
        # absolute offset of the start of each physical line ('\n'-split,
        # matching HTMLParser's internal line counting); str.find keeps
        # the scan C-side (O(lines) python iterations, not O(chars))
        self._line_starts = [0]
        pos = raw.find("\n")
        while pos != -1:
            self._line_starts.append(pos + 1)
            pos = raw.find("\n", pos + 1)
        self.builder = _BlockBuilder()

    def _abs_pos(self) -> int:
        line, col = self.getpos()
        return self._line_starts[line - 1] + col

    def handle_starttag(self, tag, attrs):
        self.builder.start(_TAG_FLAGS.get(tag, 0))

    def handle_endtag(self, tag):
        self.builder.end(_TAG_FLAGS.get(tag, 0))

    def handle_startendtag(self, tag, attrs):
        self.builder.startend(_TAG_FLAGS.get(tag, 0))

    def handle_data(self, data):
        start = self._abs_pos()
        self.builder.add(start, start + len(data), data)

    def handle_entityref(self, name):
        start = self._abs_pos()
        end = start + len(name) + 1  # '&' + name
        if end < len(self._raw) and self._raw[end] == ";":
            end += 1
        self.builder.add(start, end, _html.unescape(self._raw[start:end]))

    def handle_charref(self, name):
        start = self._abs_pos()
        end = start + len(name) + 2  # '&#' + name
        if end < len(self._raw) and self._raw[end] == ";":
            end += 1
        self.builder.add(start, end, _decode_charref(name))

    def handle_comment(self, data):  # comments are never content
        pass

    def parse_marked_section(self, i, report=1):
        """The stdlib RAISES AssertionError on a malformed ``<![``
        (``<![3 junk]>``, ``<![ x]>``). Extraction is total, so such a
        section is consumed like a bogus comment: up to the next '>',
        or -1 (unterminated) when there is none."""
        pos = self.getpos()
        try:
            return super().parse_marked_section(i, report)
        except AssertionError:
            self.lineno, self.offset = pos  # _scan_name moved it
            gt = self.rawdata.find(">", i + 3)
            return gt + 1 if gt >= 0 else -1


# -- fast tokenizer ---------------------------------------------------------
# Reproduces the stdlib parser's event stream (feed-once + close) for
# the common token shapes, with direct regex scanning and native
# absolute offsets: no per-tag method dispatch, no line/col bookkeeping,
# no attribute parsing. Behavioral parity with _MainContentParser is
# asserted in tests/test_core.py::test_fast_html_equals_stdlib_parser
# and tests/test_properties.py::test_fast_tokenizer_equals_stdlib_property.

# _scan's only step, one alternation of five token shapes: (1) a data
# run; (2) a start tag, bare or with only ` name="value"` attributes
# (single space, XML-style name, double-quoted value) — exactly the
# stdlib start-tag parse for this shape, since a quoted value is opaque
# to locatestarttagend/attrfind; (3) a strict end tag (endtagfind);
# (4) a character and (5) an entity reference, with the stdlib's
# charref/entityref patterns (the terminating char is looked at, not
# consumed: the caller takes it only if it is ';')
_FAST_TOKEN_RE = re.compile(
    r"([^<&]+)"
    r'|<([a-zA-Z][^\t\n\r\f />\x00]*)(?: [a-zA-Z_:][-.a-zA-Z0-9_:]*="[^"]*")*>'
    r"|</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>"
    r"|&#([0-9]+|[xX][0-9a-fA-F]+)(?=[^0-9a-fA-F])"
    r"|&([a-zA-Z][-.a-zA-Z0-9]*)(?=[^a-zA-Z0-9])"
)
# raw-text elements end only at the stdlib's cdata-mode close tag
_CDATA_END = {
    t: re.compile(rf"</\s*{t}\s*>", re.IGNORECASE) for t in ("script", "style")
}


def _scan(raw: str, b: _BlockBuilder) -> bool:
    """Drive the builder over ``raw`` with html.parser-equivalent
    events (one feed + one close) → False at the first token the fast
    path does not take, leaving the builder half-fed. Data chunks split
    at every '&'/'<' like the stdlib parser (chunk boundaries matter:
    per-chunk whitespace collapse feeds the link-density score).

    Each step matches ``_FAST_TOKEN_RE``, which takes:

    - a ``[^<&]+`` data run;
    - a start tag that is bare (``<p>``, ``<DIV>``) or has only
      `` name="value"`` attributes, one space before each and the value
      double-quoted (``<a href="/x">``, ``<a href="a>b">``); a
      ``script``/``style`` one then skips its content to the close tag
      (to the end of the document if there is none);
    - a strict end tag (``</p>``, ``</ p >``);
    - a character or entity reference followed by a terminating char
      (``&#8212;``, ``&#x41 ``, ``&amp;``, ``&nbsp<``).

    These are the shapes of nearly every token in real pages. Every
    other one — comments, declarations, processing instructions,
    marked sections, ``/>`` tags (``<br/>``, ``<img src="x" />``),
    attributes that are single-quoted, bare, valueless or preceded by
    two spaces, tolerant or unterminated tags, stray '<'/'&',
    references at the end of the document — stops the scan."""
    n = len(raw)
    i = 0
    add = b.add
    fast = _FAST_TOKEN_RE.match
    flags = _TAG_FLAGS.get
    while i < n:
        m = fast(raw, i)
        if m is None:
            return False
        e = m.end()
        g = m.lastindex
        if g == 1:
            add(i, e, m.group(1))
        elif g == 2:
            tag = m.group(2).lower()
            f = flags(tag, 0)
            if f:
                b.start(f)
                if tag in _CDATA_END:
                    # the content is skip-tag data: no event reaches a block
                    cm = _CDATA_END[tag].search(raw, e)
                    if cm is None:
                        return True  # unclosed: the stdlib drops the rest
                    b.end(f)
                    e = cm.end()
        elif g == 3:
            f = flags(m.group(3).lower(), 0)
            if f:
                b.end(f)
        else:
            if raw[e] == ";":
                e += 1
            add(i, e, _decode_charref(m.group(4)) if g == 4
                else _html.unescape(raw[i:e]))
        i = e
    return True


def extract_html(raw: str) -> tuple[str, list[tuple[int, int]], int, int]:
    """→ (extracted_text, spans, blocks_kept, blocks_dropped).

    Kept blocks joined with '\\n' in document order; spans are sorted,
    non-overlapping raw char offsets of the kept blocks. Runs the fast
    tokenizer, and the stdlib-parser twin ``extract_html_reference``
    on the whole document when the fast path stops short."""
    b = _BlockBuilder()
    if _scan(raw, b):
        return b.result()
    return extract_html_reference(raw)


def extract_html_reference(raw: str) -> tuple[str, list[tuple[int, int]], int, int]:
    """stdlib ``html.parser`` twin: ``extract_html``'s fallback for the
    documents ``_scan`` does not take, and the behavioral reference the
    fast path is equality-tested against."""
    parser = _MainContentParser(raw)
    parser.feed(raw)
    parser.close()
    return parser.builder.result()
