"""Layout-aware line/column reconstruction for PDF/OCR-extracted streams.

Generalizes the reference's positional line operators (SURVEY.md §2.4,
``OCR API 2/ocr_utils.py:95-154``, ``OCR API 2/weighbridge.py:28-166``,
``OCR API 2/delivery_challan.py:27-34``) into a single forward pass —
the reference re-scans the full line list per field (O(lines²),
``weighbridge.py:140``); here every heuristic is applied once per line:

- **noise-line removal**: page markers (``Page 3 of 7``, ``- 4 -``,
  ``3/12``) and separator rules (``-----``, ``=====``). Standalone bare
  numbers are KEPT — they are data in this domain (consignment numbers,
  weights; cf. ``ocr_utils.py:108-111``).
- **hyphen-break merge**: ``...transpor-`` + ``tation...`` → one line.
- **split label/value merge**: ``VEHICLE NO`` + ``: WB73B 6961`` → one
  line (the reference's W7 pass-2 merge, ``weighbridge.py:48-63``).
- **two-column reconstruction**: consecutive lines sharing an aligned
  internal gap (≥3 spaces at ~the same column) are split and re-emitted
  left-column-first then right-column (reading order).
- **block segmentation**: contiguous content lines between blank/noise
  lines form a block; table regions bounded by ``SR NO … TOTAL``
  sentinels stay intact inside their block (W11).

Spans index the RAW text: each kept block's span covers its first raw
line start through its last raw line end.
"""

from __future__ import annotations

import re

from ocr_spark.core.lines import Line, split_lines_with_spans
from ocr_spark.core.normalize import clean_block

_PAGE_MARK_RE = re.compile(
    r"(?i)^\s*(?:page\s+\d{1,4}(?:\s+of\s+\d{1,4})?"
    r"|-\s*\d{1,4}\s*-"
    r"|\d{1,4}\s*/\s*\d{1,4})\s*$"
)
_SEPARATOR_RE = re.compile(r"^[\s\-=_*.·•|~#]+$")
# first char of a noise line once stripped: a page mark opens with
# 'page', '-' or a \d (any str.isdecimal() char), a separator with one
# of its rule chars — a line opening with anything else skips both
# regexes
_NOISE_LEAD = frozenset("pP-=_*.·•|~#")
_GAP_RE = re.compile(r"\S(\s{3,})\S")
# _GAP_RE within one line of a '\n'-joined block: any line has a gap
# exactly when the block has a match
_BLOCK_GAP_RE = re.compile(r"\S[^\S\n]{3,}\S")
_HYPHEN_BREAK_RE = re.compile(r"[A-Za-z]-$")
_CONTINUATION_RE = re.compile(r"^\s*:")
_COLUMN_ALIGN_TOLERANCE = 2


def _is_noise(stripped: str) -> bool:
    lead = stripped[:1]  # '' for blank = block separator, not noise
    if not (lead in _NOISE_LEAD or lead.isdecimal()):
        return False
    return bool(_PAGE_MARK_RE.match(stripped) or _SEPARATOR_RE.match(stripped))


def _gap_start(text: str) -> int | None:
    m = _GAP_RE.search(text)
    return m.start(1) if m else None


def _reconstruct_columns(texts: list[str]) -> list[str]:
    """Split runs of column-aligned lines into left-then-right order."""
    out: list[str] = []
    i = 0
    n = len(texts)
    while i < n:
        g = _gap_start(texts[i])
        if g is None:
            out.append(texts[i])
            i += 1
            continue
        j = i + 1
        while j < n:
            gj = _gap_start(texts[j])
            if gj is None or abs(gj - g) > _COLUMN_ALIGN_TOLERANCE:
                break
            j += 1
        if j - i >= 2:  # a real column region needs ≥2 aligned lines
            lefts, rights = [], []
            for k in range(i, j):
                m = _GAP_RE.search(texts[k])
                lefts.append(texts[k][: m.start(1)])
                rights.append(texts[k][m.end(1) :])
            out.extend(lefts)
            out.extend(rights)
            i = j
        else:
            out.append(texts[i])
            i += 1
    return out


def _merge_lines(texts: list[str]) -> list[str]:
    """Hyphen-break + ':'-continuation merges, single forward pass."""
    out: list[str] = []
    for t in texts:
        if out:
            prev = out[-1]
            if _HYPHEN_BREAK_RE.search(prev) and t[:1].islower():
                out[-1] = prev[:-1] + t
                continue
            if _CONTINUATION_RE.match(t):
                out[-1] = prev + " " + t.lstrip()
                continue
        out.append(t)
    return out


def extract_pdf_like(raw: str) -> tuple[str, list[tuple[int, int]], int, int]:
    """→ (extracted_text, spans, blocks_kept, blocks_dropped)."""
    return _extract_pdf_like_lines(split_lines_with_spans(raw))


def _extract_pdf_like_lines(lines: list[Line]) -> tuple[str, list[tuple[int, int]], int, int]:
    """``extract_pdf_like`` over the payload's already-split lines."""
    blocks: list[list[Line]] = []
    current: list[Line] = []
    dropped = 0
    in_noise_run = False
    for ln in lines:
        stripped = ln.text.strip()
        if not stripped:
            if current:
                blocks.append(current)
                current = []
            in_noise_run = False
            continue
        if _is_noise(stripped):
            if current:
                blocks.append(current)
                current = []
            if not in_noise_run:
                dropped += 1  # one dropped block per maximal noise run
                in_noise_run = True
            continue
        in_noise_run = False
        current.append(ln)
    if current:
        blocks.append(current)

    kept_texts: list[str] = []
    spans: list[tuple[int, int]] = []
    kept = 0
    for blk in blocks:
        # each pass runs only on a block it can change: a column
        # region needs a gap, a merge needs a line ending in '-' before
        # another line, or a ':'
        texts = [ln.text.rstrip() for ln in blk]
        block = "\n".join(texts)
        if _BLOCK_GAP_RE.search(block):
            texts = _reconstruct_columns(texts)
            block = "\n".join(texts)
        if ":" in block or "-\n" in block:
            block = "\n".join(_merge_lines(texts))
        cleaned = clean_block(block)
        if not cleaned:
            dropped += 1
            continue
        kept_texts.append("\n".join(cleaned))
        spans.append((blk[0].start, blk[-1].end))
        kept += 1
    return "\n".join(kept_texts), spans, kept, dropped
