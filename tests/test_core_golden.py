"""Golden digest of the extraction core over the sf0.01 fixture.

The oracle and the Arrow UDFs run the same ``ocr_spark.core`` code, so
oracle parity cannot catch a change to the core's output. This test
pins that output: a sha256 over ``(conv_id, turn_idx, *ExtractResult)``
of ``extract_turn`` for every turn of ``fixtures.gen_transcripts(0.01)``.

Change ``GOLDEN_SHA256`` only for an intended change to extraction
output, and record the change in CHANGES.md.
"""

from __future__ import annotations

import hashlib

from ocr_spark.core import extract_turn
from ocr_spark.fixtures import gen_transcripts

GOLDEN_TURNS = 6005
GOLDEN_SHA256 = "29d80d8ca3c968ccf01bca465fdf2158ac5ead1761fd1990955d0633d4f2e716"


def core_digest(sf: float) -> tuple[int, str]:
    df = gen_transcripts(sf)
    h = hashlib.sha256()
    n = 0
    for conv, idx, text in zip(df["conv_id"], df["turn_idx"], df["text"]):
        row = (conv, int(idx), *extract_turn(text))
        h.update(repr(row).encode("utf-8", "surrogatepass"))
        h.update(b"\n")
        n += 1
    return n, h.hexdigest()


def test_core_output_matches_golden_digest():
    assert core_digest(0.01) == (GOLDEN_TURNS, GOLDEN_SHA256)
