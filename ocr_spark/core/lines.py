"""Raw-offset-preserving line utilities.

Span bookkeeping must reference the RAW text (SURVEY.md §7 hard part
(a)), so we never ``splitlines()`` and lose offsets — every line carries
its ``(start, end)`` character span into the original payload. The ends
exclude the line terminator; CR of a CRLF pair is excluded from the
line body but accounted for in offset math.
"""

from __future__ import annotations

import re
from typing import NamedTuple


class Line(NamedTuple):
    text: str   # line body, no terminator, no trailing CR
    start: int  # char offset of line start in raw text
    end: int    # char offset one past line body (excludes \r and \n)


_TERM_RE = re.compile(r"\r\n|\r|\n")
# builds a Line straight from its field tuple, skipping the namedtuple
# __new__ wrapper (one Python-level call per line)
_new_line = tuple.__new__


def split_lines_with_spans(raw: str) -> list[Line]:
    """Split on \\n / \\r\\n / \\r, keeping raw char spans per line
    (terminator scan stays C-side — a per-char Python loop was ~30% of
    the pdf_like extraction profile; a CR-free payload, the common
    case, is one ``str.split``)."""
    lines: list[Line] = []
    i = 0
    if "\r" not in raw:
        for text in raw.split("\n"):
            e = i + len(text)
            lines.append(_new_line(Line, (text, i, e)))
            i = e + 1
        return lines
    for m in _TERM_RE.finditer(raw):
        s = m.start()
        lines.append(_new_line(Line, (raw[i:s], i, s)))
        i = m.end()
    lines.append(_new_line(Line, (raw[i:], i, len(raw))))
    return lines
