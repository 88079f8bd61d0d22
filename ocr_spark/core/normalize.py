"""Text normalization: unicode confusables, whitespace, newlines.

Generalizes the reference's ``normalize_ascii`` confusable-repair +
NFKD-strip pass (``OCR API 2/ocr_utils.py:44-64``) and its scattered
whitespace cleanups (``OCR API 2/weighbridge.py:40-45``,
``OCR API 2/ocr_utils.py:184``). Differences by design:

- We repair confusables but do NOT strip non-ASCII wholesale (the
  reference lossily drops everything non-ASCII; a web-scale corpus is
  multilingual) — we NFKC-normalize instead, which folds compatibility
  forms (fullwidth chars, ligatures) while preserving letters.
- Replacement tables are module-level constants compiled once per
  executor (the reference rebuilds them per call).

All functions are pure; offsets are never computed on normalized text —
span bookkeeping always references the raw input (SURVEY.md §7 hard
part (a)).
"""

from __future__ import annotations

import re
import unicodedata

# Ordered confusable repairs, superset of the reference's table
# (OCR API 2/ocr_utils.py:46-55): Greek Tau+omicron, T-zero, Cyrillic o.
# Order matters — longer/more-specific patterns first.
_CONFUSABLE_REPLACEMENTS: tuple[tuple[str, str], ...] = (
    ("Το", "To"),  # Greek Tau + Greek omicron
    ("το", "to"),  # greek tau + omicron
    ("Tο", "To"),       # Latin T + Greek omicron
    ("tο", "to"),
    ("Tо", "To"),       # Latin T + Cyrillic o
    ("tо", "to"),
    ("То", "To"),  # Cyrillic Te + Cyrillic o
    (" T0 ", " To "),        # T-zero with word boundary
    (" t0 ", " to "),
)

# Zero-width / invisible formatting characters to delete outright.
_ZERO_WIDTH_RE = re.compile("[\u200b\u200c\u200d\u2060\ufeff\u00ad]")

# Unicode spaces (NBSP, thin space, ideographic space…) → ASCII space.
_UNICODE_SPACE_RE = re.compile("[\u00a0\u1680\u2000-\u200a\u202f\u205f\u3000]")

_WS_RUN_RE = re.compile(r"[ \t\f\v]+")


def fix_confusables(text: str) -> str:
    """Repair known OCR/homoglyph confusables (ordered literal replaces).

    ASCII fast path: every pattern except the T-zero pair contains a
    non-ASCII char, so pure-ASCII text (the overwhelmingly common
    chunk in the hot extraction loop) needs only those two checks —
    `str.isascii` is one C-level pass. Output is identical: with
    ASCII input the skipped patterns can never match, and the
    survivors are order-independent among themselves."""
    if text.isascii():
        if " T0 " in text:
            text = text.replace(" T0 ", " To ")
        if " t0 " in text:
            text = text.replace(" t0 ", " to ")
        return text
    for wrong, right in _CONFUSABLE_REPLACEMENTS:
        if wrong in text:
            text = text.replace(wrong, right)
    return text


def normalize_unicode(text: str) -> str:
    """NFKC fold + invisible-char removal + unicode-space unification.

    ASCII fast path (exact): NFKC maps every ASCII char to itself and
    both character classes below are non-ASCII-only, so ASCII input is
    returned unchanged — this skips two regex subs + the NFKC call on
    the hot path AND makes the caller's identity check
    (`normalized == decoded` in html_main._flush) an O(1) same-object
    compare."""
    if text.isascii():
        return text
    text = _ZERO_WIDTH_RE.sub("", text)
    text = _UNICODE_SPACE_RE.sub(" ", text)
    return unicodedata.normalize("NFKC", text)


def collapse_all_ws(text: str) -> str:
    """Collapse ALL whitespace runs (incl. newlines) to one space, trim.

    Used for HTML block text, where source newlines are presentation
    noise; pdf_like/plain keep line structure and collapse only
    horizontal runs (``clean_block``). ``str.split()`` splits at
    exactly the ``str.isspace()`` characters, the set ``\\s`` matches,
    so this is ``re.sub(r"\\s+", " ", text).strip()`` at a fraction of
    the cost.
    """
    return " ".join(text.split())


def clean_block(block: str) -> list[str]:
    """Inline-text pipeline over a block, given as its lines joined by
    '\\n': confusables → unicode fold → horizontal ws collapse → trim,
    per line, empty results dropped. Applied to each kept block; never
    used for offset math.

    It runs as one pass over the whole block plus a per-line trim,
    which equals cleaning each line on its own: no confusable pattern
    or ``_WS_RUN_RE`` match contains '\\n', no replacement and no NFKC
    mapping produces one, and '\\n' is an NFKC-stable starter, so
    every step maps the block line by line; only the trim has to run
    per line. Text whose every horizontal run is one plain space is
    already collapsed, so the substitution is skipped."""
    text = normalize_unicode(fix_confusables(block))
    if "  " in text or "\t" in text or "\f" in text or "\v" in text:
        text = _WS_RUN_RE.sub(" ", text)
    return [t for t in map(str.strip, text.split("\n")) if t]
