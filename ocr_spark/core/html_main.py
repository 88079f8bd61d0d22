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
parser's event stream with native absolute offsets. Its fast path is one
compiled alternation tried at every step, matching the three shapes that
make up nearly every token of a real page: a ``[^<&]+`` data run, a
start tag that is bare (``<p>``) or carries only `` name="value"``
attributes (one space before each, double-quoted values), and a strict
end tag (``</p>``, ``</ p >``). ``script``/``style`` start tags on that
path still consume their raw-text content through ``_consume_cdata``.
Everything else — entity and character references, comments,
declarations, processing instructions, marked sections, ``/>`` tags,
single-quoted, bare or multi-space attributes, tolerant and unterminated
tags, stray ``<``/``&`` — falls back, in the same loop, to a step-by-step
emulation of ``html.parser``.

``extract_html_reference`` drives the same block builder from the stdlib
``HTMLParser`` itself, the reference the fast path is equality-tested
against. There ``HTMLParser.getpos()`` returns (1-based line, 0-based
col) against the fed string, converted to absolute char offsets through
a precomputed line-start table of the raw text. Spans therefore always
index the raw payload (SURVEY.md §7 hard part (a)).
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
# ASCII letters as a set: one hash probe replaces the
# isascii()+isalpha() method-call pair at the scanner's '<'/'&' sites
_ASCII_ALPHA = frozenset("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")


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
    """stdlib-parser event source: the behavioral REFERENCE twin for
    the fast tokenizer (``html.parser``'s per-tag machinery dominates
    the extraction profile, so the hot path is ``_scan`` below; this
    twin stays for the corpus-wide equality test)."""

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
        self.builder.add(start, end, _html.unescape(f"&{name};"))

    def handle_charref(self, name):
        start = self._abs_pos()
        end = start + len(name) + 2  # '&#' + name
        if end < len(self._raw) and self._raw[end] == ";":
            end += 1
        self.builder.add(start, end, _decode_charref(name))

    def handle_comment(self, data):  # comments are never content
        pass


# -- fast tokenizer ---------------------------------------------------------
# Replicates the stdlib parser's event stream (feed-once + close) with
# direct regex scanning and native absolute offsets: no per-tag method
# dispatch, no line/col bookkeeping, no attribute parsing. Behavioral
# parity with _MainContentParser is asserted corpus-wide in
# tests/test_core.py::test_fast_html_equals_stdlib_parser and
# tests/test_properties.py::test_fast_tokenizer_equals_stdlib_property.

_TAGNAME_RE = re.compile(r"[a-zA-Z][^\t\n\r\f />\x00]*")  # name only
# CPython's tagfind_tolerant / attrfind_tolerant, verbatim (stdlib,
# PSF-licensed): parse_starttag's `end = rawdata[k:endpos]` check needs
# k advanced by exactly this name+attrs consumption, or '<tag />' (the
# XHTML void form) classifies as a start tag instead of startend
_TAGFIND_TOLERANT_RE = re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*")
_ATTRFIND_TOLERANT_RE = re.compile(
    r"((?<=[\'\"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*"
    r"(\'[^\']*\'|\"[^\"]*\"|(?![\'\"])[^>\s]*))?(?:\s|/(?!>))*"
)
# CPython html.parser's locatestarttagend_tolerant, verbatim (stdlib,
# PSF-licensed) — using the exact same pattern is what makes the fast
# path byte-equivalent to the stdlib twin on malformed attributes
# (quoted values are opaque only AFTER '=', a bare quote ends the tag
# region, etc.)
_LOCATE_STARTTAG_RE = re.compile(
    r"""
  <[a-zA-Z][^\t\n\r\f />\x00]*       # tag name
  (?:[\s/]*                          # optional whitespace before attribute name
    (?:(?<=['"\s/])[^\s/>][^\s/=>]*  # attribute name
      (?:\s*=+\s*                    # value indicator
        (?:'[^']*'                   # LITA-enclosed value
          |"[^"]*"                   # LIT-enclosed value
          |(?!['"])[^>\s]*           # bare value
        )
        (?:\s*,)*                    # possibly followed by a comma
      )?(?:\s|/(?!>))*
     )*
   )?
  \s*                                # trailing whitespace
""",
    re.VERBOSE,
)
_TAG_END_LETTERS = "abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ENDTAG_STRICT_RE = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_CHARREF_RE = re.compile(r"&#([0-9]+|[xX][0-9a-fA-F]+)(?=[^0-9a-fA-F])")
_ENTITYREF_RE = re.compile(r"&([a-zA-Z][-.a-zA-Z0-9]*)(?=[^a-zA-Z0-9])")
# _scan's first try at every step, one alternation of three token
# shapes: (1) a data run; (2) a start tag, bare or with only
# ` name="value"` attributes (single space, XML-style name, double-
# quoted value) — exactly the stdlib start-tag parse for this shape,
# since the name is _TAGNAME_RE's and a quoted value is opaque to
# locatestarttagend/attrfind; (3) a strict end tag (endtagfind)
_FAST_TOKEN_RE = re.compile(
    r"([^<&]+)"
    r'|<([a-zA-Z][^\t\n\r\f />\x00]*)(?: [a-zA-Z_:][-.a-zA-Z0-9_:]*="[^"]*")*>'
    r"|</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>"
)
_CDATA_END = {"script": re.compile(r"</\s*script", re.IGNORECASE),
              "style": re.compile(r"</\s*style", re.IGNORECASE)}
# stdlib _markupbase closers: comments accept whitespace before '>'
_COMMENT_CLOSE_RE = re.compile(r"--\s*>")
# marked sections: '<![CDATA[..]]>' family closes with ']]>',
# MS conditional '<![if ..]>' family with ']>'
_MS_NAME_RE = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*")
_MARKED_CLOSE_RE = re.compile(r"]\s*]\s*>")
_MS_COND_CLOSE_RE = re.compile(r"]\s*>")
_MARKED_SECTIONS = frozenset({"temp", "cdata", "ignore", "include", "rcdata"})
_MS_CONDITIONALS = frozenset({"if", "else", "endif"})


def _close_fallback(raw: str, i: int, add) -> int:
    """stdlib close()'s recovery for a parse_* that returned -1: data
    up to the next '>' (inclusive), else up to the next '<', else one
    char — then parsing CONTINUES from there."""
    k = raw.find(">", i + 1)
    if k >= 0:
        k += 1
    else:
        k = raw.find("<", i + 1)
        if k < 0:
            k = i + 1
    add(i, k, raw[i:k])
    return k


def _consume_cdata(raw: str, b: _BlockBuilder, tag: str, start: int, add) -> int:
    """Raw-text element content from ``start``: only a STRICT close
    tag whose name equals ``tag`` exits CDATA mode (stdlib parse_endtag
    with cdata_elem set — a bogus '</script foo>' is emitted as data
    and scanning continues inside the element). Returns the resume
    index, or -1 when the element is unclosed (stdlib drops the rest).
    """
    cd = _CDATA_END[tag]
    pos = start
    while True:
        em = cd.search(raw, pos)
        if em is None:
            return -1
        s = em.start()
        add(pos, s, raw[pos:s])  # suppressed (skip tag), kept for parity
        sm = _ENDTAG_STRICT_RE.match(raw, s)
        if sm and sm.group(1).lower() == tag:
            b.end(_TAG_FLAGS[tag])
            return sm.end()
        gt = raw.find(">", s)
        if gt < 0:
            return -1
        add(s, gt, raw[s:gt])  # bogus close: data, stay in CDATA
        pos = gt


def _scan(raw: str, b: _BlockBuilder) -> None:
    """Drive the builder over ``raw`` with html.parser-equivalent
    events (one feed + one close). Data chunks split at every '&'/'<'
    like the stdlib parser (chunk boundaries matter: per-chunk
    whitespace collapse feeds the link-density score).

    Each step first tries ``_FAST_TOKEN_RE``, which takes:

    - a ``[^<&]+`` data run;
    - a start tag that is bare (``<p>``, ``<DIV>``) or has only
      `` name="value"`` attributes, one space before each and the value
      double-quoted (``<a href="/x">``, ``<a href="a>b">``); a
      ``script``/``style`` one then consumes its content through
      ``_consume_cdata``;
    - a strict end tag (``</p>``, ``</ p >``).

    These are the shapes of nearly every token in real pages, and for
    them the stdlib emulation below would reach the same event by a
    longer route. Every other shape falls back to that emulation in the
    same loop: entity and character references, comments,
    declarations, processing instructions, marked sections, ``/>`` tags
    (``<br/>``, ``<img src="x" />``), attributes that are single-quoted,
    bare, valueless or preceded by two spaces, tolerant or unterminated
    tags, and stray '<'/'&'."""
    n = len(raw)
    i = 0
    add = b.add
    fast = _FAST_TOKEN_RE.match
    flags = _TAG_FLAGS.get
    semi_last = raw.rfind(";")  # O(1) '";" in rest' checks for &# bails
    # stdlib runs goahead twice (feed + close); every break-causing
    # construct (a '&#' bail or any parse_* -1) consumes one pass, and
    # a break in the CLOSE pass dumps the rest as one data chunk
    in_close_pass = False
    while i < n:
        m = fast(raw, i)
        if m is not None:
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
                        e = _consume_cdata(raw, b, tag, e, add)
                        if e < 0:
                            return
            else:
                f = flags(m.group(3).lower(), 0)
                if f:
                    b.end(f)
            i = e
            continue
        # raw[i] is '<' or '&' (a data run would have matched)
        nxt1 = raw[i + 1] if i + 1 < n else ""
        if raw[i] == "<":
            if nxt1 in _ASCII_ALPHA:
                # start tag — mirror check_for_whole_start_tag +
                # parse_starttag exactly
                lm = _LOCATE_STARTTAG_RE.match(raw, i)
                j = lm.end()
                nxt = raw[j : j + 1]
                if nxt == ">":
                    endpos = j + 1
                elif nxt == "/" and raw.startswith("/>", j):
                    endpos = j + 2
                elif nxt == "" or nxt in _TAG_END_LETTERS or nxt == "/":
                    # incomplete at buffer end (stdlib -1)
                    in_close_pass = True
                    i = _close_fallback(raw, i, add)
                    continue
                else:
                    endpos = j if j > i else i + 1
                # parse_starttag: advance k over name+attrs, then the
                # remainder before endpos decides the tag's fate
                tm = _TAGFIND_TOLERANT_RE.match(raw, i + 1)
                k = tm.end()
                while k < endpos:
                    am = _ATTRFIND_TOLERANT_RE.match(raw, k)
                    if not am:
                        break
                    k = am.end()
                tail = raw[k:endpos].strip()
                if tail not in (">", "/>"):
                    # junk before tag end: the whole region is data
                    add(i, endpos, raw[i:endpos])
                    i = endpos
                    continue
                tag = tm.group(1).lower()
                if tail == "/>":
                    b.startend(flags(tag, 0))
                else:
                    b.start(flags(tag, 0))
                    if tag in _CDATA_END:
                        i = _consume_cdata(raw, b, tag, endpos, add)
                        if i < 0:
                            return
                        continue
                i = endpos
            elif nxt1 == "/":
                if raw.find(">", i + 1) < 0:
                    in_close_pass = True
                    i = _close_fallback(raw, i, add)  # stdlib -1 path
                    continue
                # (a strict end tag took the fast path)
                if raw[i : i + 3] == "</>":
                    i += 3  # stdlib: consumed, no event
                elif i + 2 < n and raw[i + 2] in _ASCII_ALPHA:
                    # tolerant end tag: name then junk until '>'
                    tm = _TAGNAME_RE.match(raw, i + 2)
                    gt = raw.find(">", tm.end())
                    b.end(flags(tm.group(0).lower(), 0))
                    i = gt + 1
                else:
                    # bogus comment '</ junk>': no event, eat to '>'
                    i = raw.find(">", i + 2) + 1
            elif raw[i : i + 4] == "<!--":
                cm = _COMMENT_CLOSE_RE.search(raw, i + 4)
                if cm is None:
                    in_close_pass = True
                    i = _close_fallback(raw, i, add)  # unterminated
                else:
                    i = cm.end()
            elif raw[i : i + 3] == "<![":
                # marked section: '<![CDATA[...]]>' / '<![if ...]>'
                nm = _MS_NAME_RE.match(raw, i + 3)
                name = nm.group(0).lower() if nm else ""
                if name in _MARKED_SECTIONS:
                    close = _MARKED_CLOSE_RE.search(raw, i + 3)
                elif name in _MS_CONDITIONALS:
                    close = _MS_COND_CLOSE_RE.search(raw, i + 3)
                else:
                    # stdlib parse_marked_section RAISES here
                    # (AssertionError: 'expected name token') — a
                    # deliberate divergence: extraction is total, so a
                    # malformed section degrades to bogus-comment
                    # consumption instead of crashing the pipeline
                    close = None
                    gt = raw.find(">", i + 3)
                    if gt < 0:
                        in_close_pass = True
                        i = _close_fallback(raw, i, add)
                        continue
                    i = gt + 1
                    continue
                if close is None:
                    in_close_pass = True
                    i = _close_fallback(raw, i, add)
                    continue
                i = close.end()  # section content is never text
            elif nxt1 in ("?", "!"):
                gt = raw.find(">", i + 2)
                if gt < 0:
                    in_close_pass = True
                    i = _close_fallback(raw, i, add)
                    continue
                i = gt + 1  # pi / declaration: no content event
            elif i + 1 < n:
                add(i, i + 1, "<")
                i += 1
            else:
                add(i, n, "<")  # stdlib close(): trailing '<' is data
                break
        elif nxt1 == "#":  # '&#'
            cm = _CHARREF_RE.match(raw, i)
            if cm:
                k = cm.end()
                end = k + 1 if raw[k] == ";" else k
                add(i, end, _decode_charref(cm.group(1)))
                i = end
            elif semi_last >= i:
                # stdlib bail: '&#' as data + goahead breaks
                add(i, i + 2, "&#")
                i += 2
                if in_close_pass:
                    # second break happened in close(): end-phase dumps
                    # the remainder as one data chunk
                    if i < n:
                        add(i, n, raw[i:n])
                    return
                in_close_pass = True
            else:
                add(i, n, raw[i:n])  # rest of the doc becomes data
                return
        else:  # '&'
            em = _ENTITYREF_RE.match(raw, i)
            if em:
                k = em.end()
                end = k + 1 if raw[k] == ";" else k
                add(i, end, _html.unescape(f"&{em.group(1)};"))
                i = end
            elif i + 1 < n and raw[i + 1] in _ASCII_ALPHA:
                # incomplete entity at EOF (stdlib close() quirks)
                if n - i == 2:
                    add(i + 1, n, raw[i + 1 :])  # '&' dropped
                else:
                    add(i, n, raw[i:n])
                return
            else:
                add(i, i + 1, "&")
                i += 1


def extract_html(raw: str) -> tuple[str, list[tuple[int, int]], int, int]:
    """→ (extracted_text, spans, blocks_kept, blocks_dropped).

    Kept blocks joined with '\\n' in document order; spans are sorted,
    non-overlapping raw char offsets of the kept blocks. Fast-tokenizer
    path; ``extract_html_reference`` is the stdlib-parser twin."""
    b = _BlockBuilder()
    _scan(raw, b)
    return b.result()


def extract_html_reference(raw: str) -> tuple[str, list[tuple[int, int]], int, int]:
    """stdlib ``html.parser`` twin — the behavioral reference the fast
    path is equality-tested against (kept out of the hot path)."""
    parser = _MainContentParser(raw)
    parser.feed(raw)
    parser.close()
    return parser.builder.result()
