"""Unit tests for the pure-Python extraction core (the oracle)."""

from __future__ import annotations

from ocr_spark.core.extract import extract_turn
from ocr_spark.core.html_main import extract_html
from ocr_spark.core.lines import split_lines_with_spans
from ocr_spark.core.normalize import clean_block, collapse_all_ws, fix_confusables
from ocr_spark.core.pdf_layout import extract_pdf_like
from ocr_spark.core.plain import extract_plain
from ocr_spark.core.sniff import sniff_kind


# -- lines ------------------------------------------------------------------

def test_line_spans_lf_crlf_cr():
    raw = "ab\r\ncd\ref\n\ngh"
    lines = split_lines_with_spans(raw)
    assert [ln.text for ln in lines] == ["ab", "cd", "ef", "", "gh"]
    for ln in lines:
        assert raw[ln.start : ln.end] == ln.text


# -- normalize ----------------------------------------------------------------

def test_confusables_reference_set():
    # the normalize_ascii replacement set, OCR API 2/ocr_utils.py:46-55
    assert fix_confusables("Το Mumbai") == "To Mumbai"   # Greek
    assert fix_confusables("Tо Surat") == "To Surat"     # Cyrillic o
    assert fix_confusables("go T0 depot") == "go To depot"  # T-zero


def test_clean_inline_nbsp_zero_width():
    assert clean_block("a ​b\tc") == ["a b c"]


def test_collapse_all_ws():
    assert collapse_all_ws(" a \n\n b\t c ") == "a b c"


# -- sniff ------------------------------------------------------------------

def test_sniff_html():
    assert sniff_kind("<html><body><p>hi</p></body></html>") == "html"
    assert sniff_kind("look: <div class='x'>block</div>") == "html"


def test_sniff_not_html_on_comparison():
    assert sniff_kind("we know 3 < 5 and x<y in prose") == "plain"


def test_sniff_pdf_like_keywords():
    text = "TAX INVOICE\nAcme Co\nDATE: 1/2/2026\nTOTAL\n123"
    assert sniff_kind(text) == "pdf_like"


def test_sniff_pdf_like_label_layout():
    text = "Consignor:\nAcme\nVehicle No: MH12AB 1234\nQty: 5\nsomething"
    assert sniff_kind(text) == "pdf_like"


def test_sniff_plain():
    long_prose = ("this is a long flowing prose sentence that keeps going on "
                  "well past the short line threshold without any labels\n") * 3
    assert sniff_kind(long_prose) == "plain"
    assert sniff_kind("") == "plain"


# -- html -------------------------------------------------------------------

HTML_DOC = (
    "<html><head><title>t</title><style>p{color:red}</style></head>\n"
    "<body><nav><a href='/a'>home</a> <a href='/b'>about us</a> "
    "<a href='/c'>contact page</a></nav>\n"
    "<p>The quick brown fox jumps over the lazy dog near the river bank today.</p>\n"
    "<div><a href='/x'>one</a> <a href='/y'>two</a> <a href='/z'>three</a></div>\n"
    "<p>Second real paragraph with enough words to be kept here.</p>\n"
    "<script>var x = 1 < 2;</script>\n"
    "<footer><a href='/p'>privacy</a> terms</footer></body></html>"
)


def test_html_keeps_content_drops_boilerplate():
    text, spans, kept, dropped = extract_html(HTML_DOC)
    assert kept == 2
    assert "quick brown fox" in text
    assert "Second real paragraph" in text
    assert "home" not in text          # nav dropped
    assert "privacy" not in text       # footer dropped
    assert "color:red" not in text     # style skipped
    assert "var x" not in text         # script skipped
    assert dropped >= 2


def test_html_spans_index_raw():
    text, spans, kept, _ = extract_html(HTML_DOC)
    assert len(spans) == kept
    for (s, e) in spans:
        assert 0 <= s < e <= len(HTML_DOC)
    # first kept span covers the fox paragraph's text in the raw doc
    s, e = spans[0]
    assert "quick brown fox" in HTML_DOC[s:e]
    # sorted + non-overlapping
    for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
        assert e1 <= s2


def test_html_entities_decoded_with_spans():
    raw = "<p>rock &amp; roll &#x2014; forever and ever after</p>"
    text, spans, kept, _ = extract_html(raw)
    assert text == "rock & roll — forever and ever after"
    assert kept == 1
    s, e = spans[0]
    assert raw[s:e] == "rock &amp; roll &#x2014; forever and ever after"


def test_html_link_farm_density_dropped():
    raw = ("<div><a href='/1'>alpha beta</a> <a href='/2'>gamma delta</a> "
           "<a href='/3'>epsilon zeta</a></div>")
    text, spans, kept, dropped = extract_html(raw)
    assert kept == 0 and dropped == 1


def test_html_inline_link_low_density_kept():
    raw = ("<p>A long informative paragraph about freight logistics that "
           "mentions <a href='/d'>a link</a> but is mostly real content.</p>")
    text, _, kept, _ = extract_html(raw)
    assert kept == 1 and "freight logistics" in text


def test_html_unclosed_and_attr_gt():
    raw = ('<body><p>First paragraph has plenty of words to keep around'
           '<div data-note="a > b">Second block also has enough words here</div>')
    text, spans, kept, _ = extract_html(raw)
    assert "First paragraph" in text
    assert "Second block" in text


def test_html_empty_body():
    text, spans, kept, dropped = extract_html(
        "<html><head><title>empty</title></head><body></body></html>"
    )
    assert text == "" and spans == [] and kept == 0


# -- pdf_like -----------------------------------------------------------------

def test_pdf_noise_lines_dropped_numbers_kept():
    raw = "CONSIGNMENT NOTE\n48211\nPage 2 of 3\n-----\nDATE: 1/2/2026"
    text, spans, kept, dropped = extract_pdf_like(raw)
    assert "48211" in text            # standalone number is data
    assert "Page 2 of 3" not in text
    assert "-----" not in text
    assert dropped >= 1


def test_pdf_hyphen_merge():
    text, *_ = extract_pdf_like("about transpor-\ntation costs\nmore lines\nhere")
    assert "transportation costs" in text


def test_pdf_continuation_merge():
    text, *_ = extract_pdf_like("VEHICLE NO\n: WB73B 6961\nother\nlines")
    assert "VEHICLE NO : WB73B 6961" in text


def test_pdf_two_column_reconstruction():
    raw = ("left one                right one\n"
           "left two                right two\n"
           "left three              right three")
    text, *_ = extract_pdf_like(raw)
    ls = text.split("\n")
    assert ls == ["left one", "left two", "left three",
                  "right one", "right two", "right three"]


def test_pdf_spans_cover_blocks():
    raw = "HEADER BLOCK\nline two\n\nsecond block\nline b"
    text, spans, kept, _ = extract_pdf_like(raw)
    assert kept == 2 and len(spans) == 2
    s, e = spans[1]
    assert raw[s:e] == "second block\nline b"


# -- plain --------------------------------------------------------------------

def test_plain_crlf_and_ws():
    text, spans, kept, _ = extract_plain("hello   world\r\n\r\nsecond\tpara")
    assert text == "hello world\nsecond para"
    assert kept == 2


def test_plain_idempotent():
    raw = "Το depot  run ​started\r\nnext  line"
    once, *_ = extract_plain(raw)
    twice, *_ = extract_plain(once)
    assert once == twice


# -- dispatcher ---------------------------------------------------------------

def test_extract_turn_total_function():
    for payload in ["", None, "\x00\x01", "<", "<p", "&#xD800;", "&bogus"]:
        r = extract_turn(payload)
        assert r.kind in ("html", "pdf_like", "plain")
        assert r.bytes_out == len(r.extracted_text.encode("utf-8"))


def test_extract_turn_metrics():
    r = extract_turn(HTML_DOC)
    assert r.kind == "html"
    assert r.bytes_in == len(HTML_DOC.encode("utf-8"))
    assert r.blocks_kept == len(r.spans) == 2


def test_field_extraction_known_document():
    from ocr_spark.core.fields import extract_fields
    from ocr_spark.core.pdf_layout import extract_pdf_like

    raw = "\n".join([
        "DELIVERY CHALLAN",
        "Nagpur Transport Co.",
        "482913",
        "DATE: 5/3/2024",
        "",
        "Consignor",
        "Acme Industries",
        "Consignee",
        "Zenith Traders",
        "From",
        "Mumbai",
        "(Maharashtra)",
        "To",
        "Jaipur",
        "(Rajasthan)",
        "",
        "Invoice No.",
        "dated 12-Jan-24",   # decoy (W4 skip)
        "INV-7731",
        "Quantity",
        "12,500.250",
        "KGS",
        "VEHICLE NO",
        ": MH12AB 1234",
        "net",
        "weight",
        "18210",
        "",
        "SR NO  DESCRIPTION  QTY",
        "1  PLASTIC SCRAP- RIGID  4.200",
        "2  PLASTIC SCRAP- FLEXIBLE  5.300",
        "TOTAL  9.500 MT",
    ])
    text, *_ = extract_pdf_like(raw)
    f = extract_fields(text)
    assert f.category == "Delivery Challan"
    assert f.vehicle_no == "MH12AB1234"
    assert f.doc_date == "2024-03-05"
    assert f.invoice_no == "INV-7731"
    assert f.consignor == "Acme Industries"
    assert f.consignee == "Zenith Traders"
    assert f.from_city == "Mumbai" and f.from_state == "Maharashtra"
    assert f.to_city == "Jaipur" and f.to_state == "Rajasthan"
    assert f.quantity == "12,500.250 KGS"
    assert f.net_weight == "18210"
    assert f.total_qty == "9.500"
    assert f.lr_no == "482913"  # bare number above the DATE line


def test_field_extraction_eway_union():
    """New union fields from the e-way extractor (e_way_bill.py:24-96)."""
    from ocr_spark.core.fields import extract_fields
    from ocr_spark.core.pdf_layout import extract_pdf_like

    raw = "\n".join([
        "E-WAY BILL",
        "771203",
        "DATE: 2/1/2025",
        "Transporter Doc",
        "561204998877",
        "Generated Date: 3/1/2025",
        "Valid Upto: 18/1/2025",
        "Product Name & Desc",
        "PET BOTTLE SCRAP",
        "Transporter Name : Blue Dart Carriers",
    ])
    text, *_ = extract_pdf_like(raw)
    f = extract_fields(text)
    assert f.category == "E Way Bill"
    assert f.eway_bill_no == "561204998877"
    assert f.generated_date == "3/1/2025"
    assert f.valid_upto == "18/1/2025"
    assert f.material == "PET"  # product-name PET mapping
    assert f.transporter == "Blue Dart Carriers"
    assert f.lr_no == "771203"


def test_field_extraction_weighbridge_name_material_carrier():
    """W9 skip-list material, W10 name (line 0), carrier_no fallback
    (weighbridge.py:64-93,153-166)."""
    from ocr_spark.core.fields import extract_fields
    from ocr_spark.core.pdf_layout import extract_pdf_like

    raw = "\n".join([
        "Ajanta Weigh Bridge",
        "WEIGHBRIDGE SLIP",
        "Material",
        "Tare Wt",            # W9 skip-keyword decoy
        "HDPE REGRIND",
        "Carrier No. : GJ05AB1234",
        "net",
        "weight",
        "18450",
    ])
    text, *_ = extract_pdf_like(raw)
    f = extract_fields(text)
    assert f.category == "Weighbridge"
    assert f.name == "Ajanta Weigh Bridge"
    assert f.material == "Hdpe Regrind"
    assert f.carrier_no == "GJ05AB1234"
    assert f.vehicle_no == "GJ05AB1234"  # pass-3a carrier fallback
    assert f.net_weight == "18450"


def test_field_extraction_weighbridge_name_line4_fallback():
    """W10 line-4 fallback when line 0 carries a veto keyword
    (weighbridge.py:162-166)."""
    from ocr_spark.core.fields import extract_fields
    from ocr_spark.core.pdf_layout import extract_pdf_like

    raw = "\n".join([
        "Slip No 4471",      # "no" veto on line 0
        "WEIGHBRIDGE SLIP",
        "gross 22000",
        "tare 4000",
        "Ajanta Weigh Bridge",
        "net",
        "weight",
        "18000",
    ])
    text, *_ = extract_pdf_like(raw)
    f = extract_fields(text)
    assert f.category == "Weighbridge"
    assert f.name == "Ajanta Weigh Bridge"


def test_textual_digit_net_weight():
    """F10: spelled-out digits decode when no numeric form exists
    (weighbridge.py:17-20,130-136); raw digit string like the numeric
    paths (Tons formatting is F9's job downstream)."""
    from ocr_spark.core.fields import extract_fields
    from ocr_spark.core.pdf_layout import extract_pdf_like

    raw = "\n".join([
        "WEIGHBRIDGE SLIP",
        "net weight one two two one zero kg",
    ])
    text, *_ = extract_pdf_like(raw)
    f = extract_fields(text)
    assert f.net_weight == "12210"


def test_field_extraction_rates_on_fixtures():
    import random

    from ocr_spark.core.fields import extract_fields
    from ocr_spark.core.pdf_layout import extract_pdf_like
    from ocr_spark.fixtures import _gen_pdf_like

    rng = random.Random(11)
    n = 150
    hits = {
        k: 0
        for k in (
            "vehicle_no", "doc_date", "invoice_no", "consignor", "quantity",
            "material", "transporter", "lr_no", "net_weight",
        )
    }
    cond = {"E Way Bill": {"eway_bill_no": 0, "generated_date": 0, "valid_upto": 0},
            "Weighbridge": {"name": 0}}
    cond_n = {"E Way Bill": 0, "Weighbridge": 0}
    for _ in range(n):
        text, *_ = extract_pdf_like(_gen_pdf_like(rng))
        f = extract_fields(text)
        assert f.category != "Unknown"
        for k in hits:
            if getattr(f, k) is not None:
                hits[k] += 1
        if f.category in cond:
            cond_n[f.category] += 1
            for k in cond[f.category]:
                if getattr(f, k) is not None:
                    cond[f.category][k] += 1
    for k, v in hits.items():
        assert v / n >= 0.95, (k, v / n)
    # category-specific fields: checked only on docs of that category
    for cat, fields in cond.items():
        assert cond_n[cat] >= 10, cat  # the mix actually exercises them
        for k, v in fields.items():
            assert v / cond_n[cat] >= 0.9, (cat, k, v / cond_n[cat])


def test_lone_surrogate_is_sanitized_not_raised():
    from ocr_spark.core.extract import extract_turn

    r = extract_turn("hello \ud800 world of surrogate escapes")
    assert "hello" in r.extracted_text
    assert r.bytes_in > 0 and r.bytes_out > 0  # byte counts computed


def test_cjk_html_blocks_are_kept():
    from ocr_spark.core.html_main import extract_html

    text, spans, kept, dropped = extract_html(
        "<p>这是一段较长的中文正文内容用于测试提取流程</p>"
        "<nav><a href='/a'>链接</a> | <a href='/b'>更多</a></nav>"
        "<p>第二段中文内容也应当被保留下来</p>"
    )
    assert kept == 2  # both CJK body paragraphs survive the word gate
    assert "这是一段较长的中文正文内容用于测试提取流程" in text
    assert "链接" not in text  # nav boilerplate still dropped


def test_fields_inline_label_value_merged_layout():
    from ocr_spark.core.fields import extract_fields
    from ocr_spark.core.pdf_layout import extract_pdf_like

    raw = "\n".join([
        "TAX INVOICE",
        "Invoice No.",
        ": INV-4410",
        "Consignor",
        ": Hill Valley Industries",
        "Consignee",
        ": Plainview Traders",
        "VEHICLE NO",
        ": KA05AB 7788",
        "DATE: 9/11/2025",
    ])
    text, *_ = extract_pdf_like(raw)  # ':'-continuation merges apply
    f = extract_fields(text)
    assert f.invoice_no == "INV-4410"
    assert f.consignor == "Hill Valley Industries"
    assert f.consignee == "Plainview Traders"
    assert f.vehicle_no == "KA05AB7788"
    assert f.doc_date == "2025-11-09"


def test_fast_html_equals_stdlib_parser():
    """extract_html (the fast tokenizer, core/html_main._scan, with
    its stdlib fallback) must be byte-equivalent to the stdlib
    html.parser twin — over the whole fixture corpus, plus
    truncations/splices/char-mutations of it and a battery of
    malformed edges."""
    import random

    from ocr_spark.core.html_main import extract_html, extract_html_reference
    from ocr_spark.fixtures import gen_transcripts

    texts = list(gen_transcripts(0.002).text)
    rng = random.Random(7)
    html_texts = [t for t in texts if t.lstrip()[:1] == "<"]
    cases = list(texts)
    for t in html_texts[:120]:
        cases.append(t[: rng.randrange(len(t))])
        i, j = sorted((rng.randrange(len(t)), rng.randrange(len(t))))
        cases.append(t[:i] + t[j:])
        mut = list(t)
        mut[rng.randrange(len(mut))] = rng.choice('<>&"\'=/x ')
        cases.append("".join(mut))
    cases += [
        "", "<", ">", "&", "&amp", "&amp;", "&#", "&#x;",
        "&#xZZZ; <p>hi there world</p>", "<p>text &#noSemicolonAnywhere",
        "<p>tail entity &am", "<p>tail entity &a",
        "<script>never closed <p>gone", "<!-- unterminated comment <p>xyz",
        "</ bogus no gt", "<? pi no gt", "<! decl no gt",
        '<a href="unclosed quote value', '<div =">junky',
        "<a b=c d='e'>words here three</a>", "<p >spaced tag words</p >",
        "<p/>self closed p then words here",
        '<div data-note="a > b">gt inside quoted attr words</div>',
        # review-pass reproducers: XHTML void form, bogus CDATA close,
        # repeated '&#' bails, unterminated-construct tails
        "before <script /> after words here more words</p>",
        "<a />link text words</a><p>main body with plenty of words</p>",
        '<script>var a=1;</script foo="bar">trailing content words</div>',
        "a &#z; b &#y; <p>hello world</p>",
        "a &#z; b &#y; c &#x; <p>hello world</p>",
        "#</a>-<?ax=1;&amp;&amp;?",
        "</P&x y z words here ",
        "'<!--hello &#x41;;a/<div ",
        "<script>x</script x>y words here</script>z more words",
        "<a href=/x/>bare slash value words here</a>",
        "words here</ x><!--&#x41;</ x><!--&#&amp;",
        "<p><!-- note -- > actual words here</p>",
        "<p>before <![CDATA[a>b]]> rest of the words here</p>",
        "<p>x <![if gt 5]>cond<![endif]> words here now</p>",
        "<p>unterminated <![CDATA[ words here now",
        # malformed marked sections: the stdlib raises, the fallback
        # parser consumes them like a bogus comment
        "<p>bad <![3 junk]> words here now</p>",
        "<p>bad <![ spaced]> words here now</p>",
        "<p>bad <![3 junk never closed words here now",
        # start-tag shapes at and just past the fast path's edge
        '<a href="x">linked words here</a><p>body words here now</p>',
        '<DIV class="c">upper case tag words</DIV>',
        '<a  href="x">two spaces before attr words</a>',
        '<a href="a>b">gt inside value words</a>',
        '<a href="x"/>self closed with attr words here',
        '<p>pic <img src="x" /> caption words here</p>',
        '<script type="t">var x = "<p>";</script><p>after script words</p>',
        "<p>\u00a0\u3000\u200b\x1c\x85</p><p>whitespace filler above words</p>",
        "<div>\x1c\x85 \u00a0</div><a href=\"x\">\u3000</a>words here now",
        # references without ';' decode their own source span: an
        # unknown name stays as written, a known prefix decodes
        "<p>AT&T rocks the market today</p>",
        "<p>fish &ampchips and more words here</p>",
        "<p>R&D &copy 2024 &Unknown. words here now</p>",
    ]
    for e in cases:
        assert extract_html(e) == extract_html_reference(e), repr(e[:120])
    for e in ("<p>bad <![3 junk]> words here now</p>",
              "<p>bad <![ spaced]> words here now</p>"):
        text, spans, kept, dropped = extract_html(e)
        assert kept == 1 and "words here now" in text
    assert extract_html("<p>bad <![3 junk]> words here now</p>") == (
        "bad words here now", [(3, 33)], 1, 0)
    assert extract_html("<p>AT&T rocks the market today</p>") == (
        "AT&T rocks the market today", [(3, 30)], 1, 0)


def test_fixture_html_takes_the_fast_path():
    """Every html turn of the fixture is tokenized by ``_scan`` alone:
    a document it stops on costs ~3x as much in the stdlib fallback,
    and the parity tests and golden digest cannot see that."""
    from ocr_spark.core.html_main import _BlockBuilder, _scan
    from ocr_spark.core.sniff import _is_html
    from ocr_spark.fixtures import gen_transcripts

    html_texts = [t for t in gen_transcripts(0.002).text if _is_html(t)]
    assert html_texts
    stopped = [t for t in html_texts if not _scan(t, _BlockBuilder())]
    assert not stopped, repr(stopped[0][:200])
