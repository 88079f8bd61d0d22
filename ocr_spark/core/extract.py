"""Kind dispatch: sniff → route → extract → normalize.

The rebuild of the reference's classify→dispatch cascade
(``OCR API 2/ocr_utils.py:15-41`` + ``OCR API 2/api.py:52-64``): one
pure function per payload, first-match-wins routing, fixed output schema
(the reference's dynamic per-category dicts become one struct,
SURVEY.md §1.2).

``extract_turn`` is THE function of the engine — the oracle executes it
row-by-row in-process; the Spark job executes the identical code inside
Arrow batches. Purity/determinism here is what makes distributed
per-turn equality hold regardless of partitioning, salting, or batch
boundaries.
"""

from __future__ import annotations

from typing import NamedTuple

from ocr_spark.core.html_main import extract_html
from ocr_spark.core.lines import split_lines_with_spans
from ocr_spark.core.pdf_layout import _extract_pdf_like_lines
from ocr_spark.core.plain import _extract_plain_lines
from ocr_spark.core.sniff import _is_html, _layout_kind


class ExtractResult(NamedTuple):
    kind: str
    extracted_text: str
    spans: list[tuple[int, int]]  # sorted, non-overlapping, into raw text
    blocks_kept: int
    blocks_dropped: int
    bytes_in: int
    bytes_out: int


def extract_turn(raw: str | None) -> ExtractResult:
    """Full per-turn pipeline over one raw payload. Total function —
    never raises on any string input (bad payloads degrade to empty
    output, mirroring the job-level 'never fail the task on one bad
    doc' rule, SURVEY.md §4)."""
    if raw is None or raw == "":
        return ExtractResult("plain", "", [], 0, 0, 0, 0)
    try:
        bytes_in = len(raw.encode("utf-8"))
    except UnicodeEncodeError:
        # lone surrogates (e.g. surrogateescape-decoded input) are not
        # utf-8-encodable; sanitize so the function stays total and the
        # output is Arrow-safe
        raw = raw.encode("utf-8", "replace").decode("utf-8")
        bytes_in = len(raw.encode("utf-8"))
    # sniff_kind + the kind's extractor, with a non-html payload split
    # into lines once for both the layout checks and the extractor
    if _is_html(raw):
        kind = "html"
        text, spans, kept, droppedn = extract_html(raw)
    else:
        lines = split_lines_with_spans(raw)
        kind = _layout_kind(raw, lines)
        extract = _extract_pdf_like_lines if kind == "pdf_like" else _extract_plain_lines
        text, spans, kept, droppedn = extract(lines)
    return ExtractResult(
        kind=kind,
        extracted_text=text,
        spans=spans,
        blocks_kept=kept,
        blocks_dropped=droppedn,
        bytes_in=bytes_in,
        bytes_out=len(text.encode("utf-8")),
    )
