"""Content-kind sniffing: ``html`` | ``pdf_like`` | ``plain``.

Generalizes the reference's ordered keyword-classify cascade
(``OCR API 2/ocr_utils.py:15-41``): an ordered, first-match-wins chain of
increasingly weak signals — the strongest rule (HTML markup) wins
outright; a conjunction of layout signals routes to ``pdf_like``; the
fallthrough is ``plain`` (the reference's ``Unknown`` analogue, except we
process it rather than discarding).

Deterministic and pure; all patterns compiled at module import (once per
executor), unlike the reference which recompiles per call.
"""

from __future__ import annotations

import re

from ocr_spark.core.lines import Line, split_lines_with_spans

# Strong HTML evidence: a real tag (open, close, doctype, or comment) for
# a common HTML element. Requires the tag shape `<name ...>` — a bare
# "x < y" comparison in prose does not match.
_HTML_TAG_RE = re.compile(
    r"(?is)<\s*(?:!doctype\b|!--|/?(?:html|head|body|title|meta|link|script"
    r"|style|div|p|a|span|table|thead|tbody|tr|td|th|ul|ol|li|h[1-6]|br"
    r"|hr|img|article|section|nav|header|footer|aside|main|pre"
    r"|blockquote|em|strong|b|i|form|input|button)\b[^<]*?>)"
)

# pdf_like layout signals (mirrors the document structures the
# reference's positional extractors parse, SURVEY.md §2.4):
_LABEL_LINE_RE = re.compile(r"^\s*[A-Za-z][A-Za-z ./#&()-]{1,40}[:\-]\s*\S*\s*$")
_ALLCAPS_LINE_RE = re.compile(r"^\s*[A-Z][A-Z0-9 ./#&()\-']{2,45}\s*$")
_TABLE_SENTINEL_RE = re.compile(
    r"(?im)^\s*(?:SR\s*\.?\s*NO|S\.\s*NO)\b|^\s*TOTAL\b"
)
_DOC_KEYWORD_RE = re.compile(
    r"(?i)\b(?:e-?way bill|delivery challan|consignment note|lorry receipt"
    r"|weighbridge|tax invoice|gross wt|nett? wt|tare wt)\b"
)
_SHORT_LINE_MAX = 45


def sniff_kind(text: str) -> str:
    """Route a raw payload to its extractor kind. First match wins."""
    if not text:
        return "plain"
    if _is_html(text):
        return "html"
    return _layout_kind(text, split_lines_with_spans(text))


def _is_html(text: str) -> bool:
    """The strongest rule: real HTML markup anywhere in the payload."""
    return _HTML_TAG_RE.search(text) is not None


def _layout_kind(text: str, lines: list[Line]) -> str:
    """``pdf_like`` | ``plain`` for a non-html payload, from its text
    and its already-split lines."""
    nonempty = [t for t in (ln.text.strip() for ln in lines) if t]
    if len(nonempty) >= 4:
        if _TABLE_SENTINEL_RE.search(text) or _DOC_KEYWORD_RE.search(text):
            return "pdf_like"
        short = sum(1 for ln in nonempty if len(ln) <= _SHORT_LINE_MAX)
        labelish = sum(
            1
            for ln in nonempty
            if _LABEL_LINE_RE.match(ln) or _ALLCAPS_LINE_RE.match(ln)
        )
        if labelish >= 2 and short / len(nonempty) >= 0.5:
            return "pdf_like"
        if short / len(nonempty) >= 0.8:
            return "pdf_like"
    return "plain"
