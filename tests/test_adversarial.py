"""Adversarial payloads through the extraction core: never raise,
always satisfy the span invariants (sorted, non-overlapping, in-range,
and each span's raw slice is non-empty when text is non-empty)."""

from __future__ import annotations

import pandas as pd
import pytest

from ocr_spark.core import extract_turn

CASES = {
    "megaline": "word " * 200_000,  # ~1 MB single line
    "deep_nesting": "<div>" * 200 + "hello deep world of nesting" + "</div>" * 200,
    "broken_charref": "<p>bad &#xZZZ; entity &#99999999999; &bogus; here ok</p>",
    "crlf_html": "<html>\r\n<body>\r\n<p>line one here</p>\r\n<p>line two there</p>\r\n</body></html>",
    "null_bytes": "before\x00middle\x00after some words here",
    "empty_body": "<html><head><title>t</title></head><body></body></html>",
    "only_tags": "<div><span></span></div><br><hr>",
    "attr_gt": '<div data-x="a > b"><p>kept content words here</p></div>',
    "unclosed_everything": "<html><body><div><p>text flows on and on",
    "script_soup": "<script>if (a<b && c>d) { x('</'); }</script><p>real content words</p>",
    "comment_bomb": "<!-- " + "x" * 100_000 + " --><p>after comment words</p>",
    "mixed_eols": "Label:\rvalue\r\nNEXT LABEL\nvalue two\r\n\r\nTOTAL 12.5 MT",
    "lone_ampersands": "a & b &; &# & more words to pass filters",
    "emoji_zwj": "👩‍👩‍👧‍👦 family plus words and more padding words here",
    "rtl_text": "نص عربي قصير مع كلمات إضافية للطول المطلوب هنا",
    "cjk": "这是 一段 中文 文本 用于 测试 提取 流程 的 稳定性",
    "huge_pdfish": "\n".join(f"LINE {i}: value {i}" for i in range(50_000)),
    "control_chars": "".join(chr(c) for c in range(1, 32)) + " plus normal words",
    "surrogate_charref": "<p>hello world content &#xD800; &#55296; more words</p>",
    "nested_table": "<table>" + "<tr><td>cell words here</td></tr>" * 500 + "</table>",
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_adversarial_payload(name):
    raw = CASES[name]
    r = extract_turn(raw)
    assert r.kind in ("html", "pdf_like", "plain")
    assert isinstance(r.extracted_text, str)
    # span invariants
    prev_end = -1
    for start, end in r.spans:
        assert 0 <= start < end <= len(raw), (name, start, end, len(raw))
        assert start >= prev_end, f"{name}: overlapping/unsorted spans"
        prev_end = end
    assert r.bytes_in == len(raw.encode("utf-8"))
    assert r.bytes_out == len(r.extracted_text.encode("utf-8"))
    # determinism
    r2 = extract_turn(raw)
    assert r2 == r


def test_adversarial_through_spark(spark):
    """The same payloads through the Arrow stage — batch boundary must
    not change results (arrow string handling, null bytes, size)."""
    from ocr_spark.job import extract_transcripts

    rows = [(k, 0, v) for k, v in sorted(CASES.items())]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    got = {
        r["conv_id"]: (r["kind"], r["extracted_text"])
        for r in extract_transcripts(df).collect()
    }
    for name, _, raw in rows:
        r = extract_turn(raw)
        assert got[name] == (r.kind, r.extracted_text), name


def test_oversize_payloads_through_spark(spark):
    """Twenty 4 MiB turns in one partition (~80 MiB). Spark caps each
    Arrow input batch by bytes (``spark.sql.execution.arrow.
    maxBytesPerBatch``, 64 MiB by default) as well as by
    ``maxRecordsPerBatch`` (2048), so the stage sees several batches,
    not one that grows with payload size (docs/SCALE.md §1 "Memory");
    each row still equals the core's own result."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    from ocr_spark.schema import EXTRACT_STRUCT
    from ocr_spark.udfs import extract_rows, map_batches

    line = "shipment cargo freight route depot invoice material weight tonnage\n"
    reps = (4 << 20) // len(line)
    n_rows = 20
    text = F.concat(F.col("id").cast("string"), F.lit(" "), F.repeat(F.lit(line), reps))

    def extract_with_batch_len(pdf: pd.DataFrame) -> pd.DataFrame:
        return extract_rows(pdf).assign(n=len(pdf))

    schema = StructType(
        [StructField("id", LongType()), *EXTRACT_STRUCT.fields, StructField("n", IntegerType())]
    )
    src = spark.range(0, n_rows, 1, numPartitions=1).select("id", text.alias("text"))
    rows = map_batches(src, extract_with_batch_len, schema).collect()
    assert len(rows) == n_rows
    # a batch of n rows contributes n rows of 1/n each
    assert round(sum(1 / r["n"] for r in rows)) >= 2
    for x in rows:
        e = extract_turn(f"{x['id']} " + line * reps)
        assert (x["kind"], x["extracted_text"], [tuple(s) for s in x["spans"]]) == (
            e.kind, e.extracted_text, [tuple(s) for s in e.spans]
        ), x["id"]
        assert (x["blocks_kept"], x["blocks_dropped"], x["bytes_in"], x["bytes_out"]) == (
            e.blocks_kept, e.blocks_dropped, e.bytes_in, e.bytes_out
        ), x["id"]
