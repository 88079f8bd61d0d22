"""Deterministic synthetic transcript generator (FIXTURES.md §1/§3).

Schema = BASELINE.json ``input_hint``:
``(conv_id string, turn_idx int32, role string, text string, tool
string, ts timestamp)``. Fixed seed, no wall-clock, no dict-order
dependence — the same sf always yields byte-identical tables.

Payload mix ≈ 40% html / 30% pdf_like / 30% plain, mirroring the
reference's category routing spread (``OCR API 2/ocr_utils.py:15-41``).
pdf_like payloads embed the exact layout structures the reference's
positional extractors parse (FIXTURES.md §3 vocabulary, cited per
structure in ``_gen_pdf_like``).

Skew: a few conversations are 100-1000× the median turn count
(seeded choice), so skew-salting tests have something to split.
"""

from __future__ import annotations

import os
import random
import tempfile
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

from ocr_spark.sources.io import publish

_WORDS = (
    "shipment cargo freight lorry route godown depot invoice material plastic "
    "scrap granule consignment transport carrier driver octroi tax weight "
    "tonnage quantity challan receipt gate yard axle diesel permit highway "
    "border state district loading unloading warehouse pallet crate seal "
    "batch docket ledger account party broker agent branch office village "
    "factory plant unit measure value amount total net gross tare"
).split()

# bump whenever generator output changes: cached fixture parquet paths
# embed this so stale round-(N-1) files are never reused
FIXTURE_VERSION = 2


def _transcripts_fixture_file(sf: float) -> str:
    """Where the cached transcripts parquet for ``sf`` lives; the Spark
    queries read it and the conversation oracles' SQL names it."""
    return os.path.join(
        tempfile.gettempdir(),
        f"ocr_spark_transcripts_v{FIXTURE_VERSION}_sf{sf}.parquet",
    )


def transcripts_fixture_path(sf: float) -> str:
    """The transcripts parquet for ``sf``, written on first use."""
    return publish(_transcripts_fixture_file(sf), lambda tmp: write_transcripts(tmp, sf))


_STATES = ("Maharashtra", "Gujarat", "West Bengal", "Karnataka", "Rajasthan")
_MATERIALS = ("PLASTIC GRANULE", "PET BOTTLE SCRAP", "HDPE REGRIND", "LDPE FILM ROLL")
_DIGIT_WORDS = ("zero", "one", "two", "three", "four", "five", "six", "seven", "eight", "nine")
_CITIES = ("Mumbai", "Surat", "Kolkata", "Bengaluru", "Jaipur", "Nagpur")
_UNITS = ("KGS", "KG", "MT", "TONS")
_EMOJI = ("✅", "🚚", "📦", "🔍", "—")

_BASE_TS = datetime(2026, 1, 1, 0, 0, 0)
_SEED = 42


def _sentence(rng: random.Random, lo: int = 8, hi: int = 18) -> str:
    n = rng.randint(lo, hi)
    words = [rng.choice(_WORDS) for _ in range(n)]
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


# --------------------------------------------------------------------------
# html payloads
# --------------------------------------------------------------------------

def _link_farm(rng: random.Random, n_lo: int, n_hi: int) -> str:
    links = [
        f'<a href="/{rng.choice(_WORDS)}/{rng.randint(1, 99)}">{_words(rng, rng.randint(1, 3))}</a>'
        for _ in range(rng.randint(n_lo, n_hi))
    ]
    return " | ".join(links)


def _gen_html(rng: random.Random) -> str:
    if rng.random() < 0.03:  # empty-body edge case
        return "<html><head><title>empty</title></head><body></body></html>"
    paras = []
    for _ in range(rng.randint(1, 5)):
        body = _sentence(rng, 20, 50)
        r = rng.random()
        if r < 0.25:  # entities
            body = body.replace(" ", " &amp; ", 1).replace(" ", " &#x2014; ", 1)
        elif r < 0.45:  # nested inline tags
            w = body.split()
            w[rng.randrange(len(w))] = f"<b>{rng.choice(_WORDS)} <em>inline</em></b>"
            body = " ".join(w)
        elif r < 0.55:  # inline link inside content (low density, kept)
            body += f' See <a href="/more">details here</a> for more.'
        paras.append(f"<p>{body}</p>")
    main = "\n".join(paras)
    if rng.random() < 0.1:  # unclosed tag edge case
        main += f"\n<p>{_sentence(rng, 10, 20)}"
    if rng.random() < 0.1:  # attribute containing '>'
        main += f'\n<div data-note="a > b">{_sentence(rng, 12, 24)}</div>'
    nav = f"<nav>{_link_farm(rng, 5, 12)}</nav>"
    sidebar = f"<aside><ul>" + "".join(
        f'<li><a href="/s/{i}">{_words(rng, 2)}</a></li>' for i in range(rng.randint(3, 8))
    ) + "</ul></aside>"
    footer = f"<footer>{_link_farm(rng, 3, 8)} <span>© 2026 {_words(rng, 2)}</span></footer>"
    linkfarm_div = f'<div>{_link_farm(rng, 4, 10)}</div>'
    script = f"<script>var x = {rng.randint(0, 9)}; if (x > 1) {{ track('{rng.choice(_WORDS)}'); }}</script>"
    style = "<style>.m { color: #333; } p > em { font-weight: bold; }</style>"
    return (
        f"<html><head><title>{_words(rng, 3)}</title>{style}</head>\n"
        f"<body>\n<header><h1>{_words(rng, 4)}</h1></header>\n{nav}\n"
        f"{linkfarm_div}\n<main>\n{main}\n</main>\n{sidebar}\n{script}\n{footer}\n</body></html>"
    )


# --------------------------------------------------------------------------
# pdf_like payloads (FIXTURES.md §3 structure vocabulary)
# --------------------------------------------------------------------------

def _gen_pdf_like(rng: random.Random) -> str:
    lines: list[str] = []
    head = rng.choice(
        ("CONSIGNMENT NOTE", "DELIVERY CHALLAN", "TAX INVOICE", "E-WAY BILL", "WEIGHBRIDGE SLIP")
    )
    if head == "WEIGHBRIDGE SLIP":
        # firm-name first line: the W10 name heuristic's line-0 case
        # (weighbridge.py:156-159)
        lines.append(f"{rng.choice(_WORDS).title()} Weigh Bridge")
    lines.append(head)
    lines.append(f"{rng.choice(_CITIES)} Transport Co.")
    # date-anchored number block (ocr_utils.py:95-114): standalone 3-6
    # digit number a few lines above a DATE line
    lines.append(str(rng.randint(100, 999999)))
    for _ in range(rng.randint(0, 3)):
        lines.append(_words(rng, rng.randint(2, 5)).upper())
    lines.append(f"DATE: {rng.randint(1, 28)}/{rng.randint(1, 12)}/{rng.randint(2023, 2026)}")
    lines.append("")
    # label→next-line value (ocr_utils.py:117-127)
    lines += ["Consignor", f"{_words(rng, 2).title()} Industries"]
    lines += ["Consignee", f"{_words(rng, 2).title()} Traders"]
    # label→offset-2 paren state (ocr_utils.py:131-154)
    lines += ["From", rng.choice(_CITIES), f"({rng.choice(_STATES)})"]
    lines += ["To", rng.choice(_CITIES), f"({rng.choice(_STATES)})"]
    lines.append("")
    # label→bounded lookahead with decoys (ocr_utils.py:241-283)
    lines.append("Invoice No.")
    if rng.random() < 0.5:
        lines.append(f"dated {rng.randint(1, 28)}-Jan-{rng.randint(23, 26)}")  # decoy
    lines.append(f"INV-{rng.randint(100, 9999)}")
    # value/unit split lines (e_way_bill.py:44-64)
    lines.append("Quantity")
    lines.append(f"{rng.randint(1, 99)},{rng.randint(100, 999)}.{rng.randint(100, 999)}")
    lines.append(rng.choice(_UNITS))
    # split-line entity (weighbridge.py:48-63)
    lines.append("VEHICLE NO")
    lines.append(f": {rng.choice(('MH', 'GJ', 'WB', 'KA', 'RJ'))}{rng.randint(10, 99)}"
                 f"{rng.choice(('A', 'AB', 'ABC'))} {rng.randint(1000, 9999)}")
    # material label + skip-list decoy (W9, weighbridge.py:84-93);
    # e-way bills use the Product Name label (e_way_bill.py:85-88)
    mat = rng.choice(_MATERIALS)
    if head == "E-WAY BILL":
        lines.append("Product Name & Desc")
        lines.append(mat)
    else:
        lines.append(rng.choice(("Material", "Commodity")))
        if rng.random() < 0.3:
            lines.append("Tare Wt")  # skip-keyword decoy
        lines.append(mat)
    # transporter label→value (lr_copy.py:30), inline or split
    carrier_name = f"{_words(rng, 2).title()} Carriers"
    if rng.random() < 0.4:
        lines.append(f"Transporter Name : {carrier_name}")
    else:
        lines += ["Transporter Name", carrier_name]
    if head == "WEIGHBRIDGE SLIP" and rng.random() < 0.5:
        # carrier-format vehicle line (weighbridge.py:64-74)
        lines.append(
            f"Carrier No. : {rng.choice(('MH', 'GJ', 'WB', 'KA', 'RJ'))}"
            f"{rng.randint(10, 99)}{rng.choice(('A', 'AB'))}{rng.randint(1000, 9999)}"
        )
    if rng.random() < 0.15:
        # F10 textual-digit weight (weighbridge.py:130-136); leading
        # 'one' guarantees the reference's "one in line" gate fires
        wt_digits = "1" + str(rng.randint(100, 9999))
        lines.append(
            "net weight " + " ".join(_DIGIT_WORDS[int(c)] for c in wt_digits) + " kg"
        )
    else:
        # vertically stacked label (weighbridge.py:106-117)
        lines += ["net", "weight", str(rng.randint(1000, 99999))]
    if head == "E-WAY BILL":
        # 12-digit bill no near its anchor + validity window
        # (e_way_bill.py:24-41)
        lines.append("Transporter Doc")
        lines.append(str(rng.randint(10**11, 10**12 - 1)))
        lines.append(
            f"Generated Date: {rng.randint(1, 28)}/{rng.randint(1, 12)}/{rng.randint(2023, 2026)}"
        )
        lines.append(
            f"Valid Upto: {rng.randint(1, 28)}/{rng.randint(1, 12)}/{rng.randint(2023, 2026)}"
        )
    lines.append("")
    # hyphen-broken word
    lines.append(f"{_words(rng, 4)} transpor-")
    lines.append(f"tation {_words(rng, 3)}")
    # page-number noise
    lines.append(f"Page {rng.randint(1, 3)} of 3")
    # two-column region (aligned gap)
    col = 24
    for _ in range(rng.randint(2, 4)):
        left = _words(rng, 2)[: col - 2]
        lines.append(f"{left:<{col}}{_words(rng, 2)}")
    lines.append("-----------------------------")
    # bounded table block (delivery_challan.py:28-34)
    lines.append("SR NO  DESCRIPTION        QTY")
    for i in range(rng.randint(1, 4)):
        lines.append(f"{i + 1}  PLASTIC SCRAP- {rng.choice(('FLEXIBLE', 'RIGID'))}  "
                     f"{rng.randint(1, 20)}.{rng.randint(100, 999)}")
    lines.append(f"TOTAL  {rng.randint(10, 99)}.{rng.randint(100, 999)} MT")
    return "\n".join(lines)


# --------------------------------------------------------------------------
# plain payloads
# --------------------------------------------------------------------------

def _gen_plain(rng: random.Random) -> str:
    paras = []
    for _ in range(rng.randint(1, 4)):
        sents = [_sentence(rng, 10, 25) for _ in range(rng.randint(1, 4))]
        para = " ".join(sents)
        r = rng.random()
        if r < 0.3:  # messy whitespace
            para = para.replace(" ", "  ", 3).replace(" ", "\t", 1)
        elif r < 0.5:  # confusables (normalize_ascii set, ocr_utils.py:46-55)
            para = rng.choice(("Το ", "Tо ", " T0 ")) + para
        elif r < 0.65:  # NBSP + zero-width
            para = para.replace(" ", " ", 2).replace(" ", "​ ", 1)
        elif r < 0.75:  # emoji
            para = f"{rng.choice(_EMOJI)} {para}"
        paras.append(para)
    text = "\n\n".join(paras)
    if rng.random() < 0.3:  # CRLF variant
        text = text.replace("\n", "\r\n")
    return text


_KINDS = ("html", "pdf_like", "plain")
_KIND_WEIGHTS = (0.4, 0.3, 0.3)


def gen_payload(rng: random.Random) -> str:
    kind = rng.choices(_KINDS, weights=_KIND_WEIGHTS, k=1)[0]
    if kind == "html":
        return _gen_html(rng)
    if kind == "pdf_like":
        return _gen_pdf_like(rng)
    return _gen_plain(rng)


def gen_transcripts(sf: float) -> pd.DataFrame:
    """Deterministic transcripts table at scale factor ``sf``.

    ~600k turns/sf-unit (sf0.001→~600, sf0.01→~6k, sf0.1→~60k), matching
    TESTDATA.md's lineitem scaling convention.
    """
    rng = random.Random(_SEED * 1_000_003 + int(sf * 1_000_000))
    target = max(100, int(600_000 * sf))
    rows: list[tuple[str, int, str, str, str | None]] = []
    # skew fixtures: 2 heavy conversations carry ~10% of all turns
    heavy_sizes = [max(80, target // 12), max(60, target // 18)]
    conv_i = 0
    total = 0
    sizes: list[int] = []
    for h in heavy_sizes:
        sizes.append(h)
        total += h
    while total < target:
        s = rng.randint(2, 12)
        sizes.append(s)
        total += s
    roles = ("user", "assistant", "tool")
    for size in sizes:
        conv_id = f"conv{conv_i:08d}"
        for t in range(size):
            role = roles[t % 3]
            tool = f"tool{rng.randint(0, 9)}" if role == "tool" else None
            rows.append((conv_id, t, role, gen_payload(rng), tool))
        conv_i += 1
    df = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool"])
    df["turn_idx"] = df["turn_idx"].astype(np.int32)
    conv_codes = df["conv_id"].astype("category").cat.codes.to_numpy()
    offset = (conv_codes.astype(np.int64) * 3600 + df["turn_idx"].to_numpy(np.int64))
    df["ts"] = pd.Series(
        np.datetime64(_BASE_TS) + offset.astype("timedelta64[s]")
    ).astype("datetime64[us]")
    return df


def write_replicated_transcripts(dst: str, src_path: str, replication: int) -> str:
    """Replicate a transcripts parquet ``replication``× with remapped
    conv_ids (``r{k}-`` prefix). Used by the bench harness to scale the
    measured input: per-conversation sizes (and therefore the skew
    structure) are preserved exactly, each replica just adds disjoint
    conversations. Deterministic — pure column arithmetic on the
    already-deterministic source fixture."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = pq.read_table(src_path)
    idx = src.schema.get_field_index("conv_id")
    parts = []
    for r in range(replication):
        conv = pc.binary_join_element_wise(
            pa.scalar(f"r{r}-"), src.column("conv_id").cast(pa.string()), ""
        )
        parts.append(src.set_column(idx, "conv_id", conv))
    pq.write_table(pa.concat_tables(parts), dst, row_group_size=2000)
    return dst


def write_transcripts(path: str, sf: float) -> str:
    """Write the fixture table as parquet; returns the path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    df = gen_transcripts(sf)
    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us")),
        ]
    )
    # bounded row groups: a single-row-group file is unsplittable for
    # Spark scans (row groups are the parallelism quantum), which would
    # serialize the whole extraction stage on one task
    pq.write_table(
        pa.Table.from_pandas(df, schema=schema, preserve_index=False),
        path,
        row_group_size=2000,
    )
    return path
