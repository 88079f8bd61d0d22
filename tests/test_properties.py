"""Property-based invariants over the extraction core (SURVEY.md §5.3)."""

from __future__ import annotations

import random

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_spark.core.extract import extract_turn
from ocr_spark.core.plain import extract_plain
from ocr_spark.fixtures import gen_payload

_text = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
    max_size=2000,
)


@settings(max_examples=200, deadline=None)
@given(_text)
def test_spans_invariants_random_text(raw):
    r = extract_turn(raw)
    prev_end = 0
    for s, e in r.spans:
        assert 0 <= s < e <= len(raw)      # in-range
        assert s >= prev_end               # sorted, non-overlapping
        prev_end = e
    assert r.blocks_kept == len(r.spans)
    assert r.bytes_in == len(raw.encode("utf-8"))
    assert r.bytes_out == len(r.extracted_text.encode("utf-8"))


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=0, max_value=10_000))
def test_spans_invariants_fixture_payloads(seed):
    raw = gen_payload(random.Random(seed))
    r = extract_turn(raw)
    prev_end = 0
    for s, e in r.spans:
        assert 0 <= s < e <= len(raw)
        assert s >= prev_end
        prev_end = e
    assert r.blocks_kept == len(r.spans)


@settings(max_examples=150, deadline=None)
@given(_text)
def test_plain_idempotent(raw):
    once, *_ = extract_plain(raw)
    twice, *_ = extract_plain(once)
    assert once == twice


@settings(max_examples=150, deadline=None)
@given(_text)
def test_extract_deterministic(raw):
    assert extract_turn(raw) == extract_turn(raw)


@given(st.text(max_size=4000))
@settings(max_examples=200, deadline=None)
def test_fields_total_and_deterministic(raw):
    """extract_fields never raises, returns the fixed schema, and is
    deterministic on arbitrary input."""
    from ocr_spark.core.fields import FIELD_NAMES, extract_fields

    f1 = extract_fields(raw)
    f2 = extract_fields(raw)
    assert f1 == f2
    assert tuple(f1._fields) == FIELD_NAMES
    assert f1.category in (
        "E Way Bill", "Delivery Challan", "LR Copy",
        "Weighbridge", "Tax Invoice", "Unknown",
    )


_htmlish = st.lists(
    st.sampled_from(list("<>&;/!?[]-=\"' abcdefxyz#014Ip\n\t"))
    | st.sampled_from(
        ["<p>", "</p>", "<script>", "</script>", "<a href='x'>", "</a>",
         "&amp;", "&#x41;", "&#", "<!--", "-->", "<![CDATA[", "]]>",
         " />", "/>", "< p", "</ x>", "words here",
         # start tags at and just past the fast path's edge
         '<a href="x">', '<DIV class="c">', '<a  href="x">',
         '<a href="a>b">', '<a href="x"/>', '<img src="x" />',
         '<script type="t">',
         # references at and just past the fast path's edge
         "&#8212;", "&nbspx", "&nbsp", "&copy x", "&copy",
         # whitespace-only filler: the isspace() block shortcut must
         # agree with the \s collapse after NFKC
         "\u00a0", "\u3000", "\u200b", "\x1c", "\x85"]
    ),
    max_size=40,
).map("".join)


@settings(max_examples=300, deadline=None)
@given(_htmlish)
def test_fast_tokenizer_equals_stdlib_property(raw):
    """Property form of the fast/stdlib twin equality: on any input
    both are total and their outputs are byte-identical."""
    from ocr_spark.core.html_main import extract_html, extract_html_reference

    assert extract_html(raw) == extract_html_reference(raw)


@settings(max_examples=300, deadline=None)
@given(_text)
def test_canonicalization_idempotent_and_engine_agnostic(raw):
    """The canonical_dedup normalization (lower → non-alnum runs →
    one space → trim) is idempotent — re-canonicalizing a canonical
    form is a no-op, so incremental re-runs never re-group docs — and
    its Python re twin here matches the semantics both engines
    execute (same pattern, 'g'-flag equivalent)."""
    import re

    def canon(t: str) -> str:
        return re.sub(r"[^a-z0-9]+", " ", t.lower()).strip()

    c = canon(raw)
    assert canon(c) == c
    # canonical form contains only [a-z0-9 ] with single spaces
    assert not re.search(r"[^a-z0-9 ]|  ", c)


@settings(max_examples=200, deadline=None)
@given(_text)
def test_ascii_fast_paths_exact(raw):
    """The normalize fast paths must be EXACT: outputs equal the
    unconditioned reference implementations on arbitrary input."""
    import re as _re
    import unicodedata

    from ocr_spark.core.normalize import (
        _CONFUSABLE_REPLACEMENTS,
        _UNICODE_SPACE_RE,
        _ZERO_WIDTH_RE,
        fix_confusables,
        normalize_unicode,
    )

    def ref_fix(text):
        for wrong, right in _CONFUSABLE_REPLACEMENTS:
            if wrong in text:
                text = text.replace(wrong, right)
        return text

    def ref_norm(text):
        text = _ZERO_WIDTH_RE.sub("", text)
        text = _UNICODE_SPACE_RE.sub(" ", text)
        return unicodedata.normalize("NFKC", text)

    assert fix_confusables(raw) == ref_fix(raw)
    assert normalize_unicode(raw) == ref_norm(raw)


_block_line = st.lists(
    st.text(
        alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",), exclude_characters="\n"),
        max_size=8,
    )
    | st.sampled_from(
        ["Το", "το", "Tο", "tо", "То", " T0 ", " t0 ", "T0", "\u0301", "\u0327",
         "\u00a0", "\u3000", "\u200b", "\u00ad", "\ufeff", "\x1c", "\x85",
         "\u2028", "\r", "\x0b", "\ufb01", "\uff34", " ", "\t", "e", "words"]
    ),
    max_size=12,
).map("".join)


@settings(max_examples=300, deadline=None)
@given(st.lists(_block_line, max_size=8))
def test_clean_block_equals_per_line_clean(lines):
    """One cleaning pass over a joined block equals cleaning each line
    on its own (confusables → unicode fold → ws collapse), empties
    dropped."""
    import re

    from ocr_spark.core.normalize import clean_block, fix_confusables, normalize_unicode

    def clean_line(t):
        return re.sub(r"[ \t\f\v]+", " ", normalize_unicode(fix_confusables(t))).strip()

    per_line = [clean_line(t) for t in lines]
    assert clean_block("\n".join(lines)) == [t for t in per_line if t]


@settings(max_examples=300, deadline=None)
@given(st.lists(_block_line, max_size=4).map("\n".join))
def test_collapse_all_ws_equals_regex_collapse(text):
    """The str.split() collapse equals the \\s-regex collapse."""
    import re

    from ocr_spark.core.normalize import collapse_all_ws

    assert collapse_all_ws(text) == re.sub(r"\s+", " ", text).strip()
