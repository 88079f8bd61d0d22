"""Plain-text normalization pass.

The fallthrough kind (the reference's ``Unknown``, ``OCR API
2/ocr_utils.py:41`` — except we normalize and keep it rather than
discarding): paragraph segmentation at blank lines, per-line confusable
repair + unicode fold + whitespace collapse (generalizing
``normalize_ascii``, ``ocr_utils.py:44-64``), CRLF/CR handled without
losing raw offsets.

Idempotence invariant (tested): ``extract_plain(extract_plain(x).text)``
returns the same text — the cleaning pipeline is a projection.
"""

from __future__ import annotations

from ocr_spark.core.lines import Line, split_lines_with_spans
from ocr_spark.core.normalize import clean_block


def extract_plain(raw: str) -> tuple[str, list[tuple[int, int]], int, int]:
    """→ (extracted_text, spans, blocks_kept, blocks_dropped)."""
    return _extract_plain_lines(split_lines_with_spans(raw))


def _extract_plain_lines(lines: list[Line]) -> tuple[str, list[tuple[int, int]], int, int]:
    """``extract_plain`` over the payload's already-split lines."""
    paragraphs: list[list[Line]] = []
    current: list[Line] = []
    for ln in lines:
        if ln.text.strip():
            current.append(ln)
        elif current:
            paragraphs.append(current)
            current = []
    if current:
        paragraphs.append(current)

    kept_texts: list[str] = []
    spans: list[tuple[int, int]] = []
    dropped = 0
    for para in paragraphs:
        cleaned = clean_block("\n".join([ln.text for ln in para]))
        if not cleaned:
            dropped += 1
            continue
        kept_texts.append("\n".join(cleaned))
        spans.append((para[0].start, para[-1].end))
    return "\n".join(kept_texts), spans, len(kept_texts), dropped
