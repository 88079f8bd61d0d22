"""Deterministic workload inputs, made from ``--seed``.

Nothing here imports the program under test, so a change to
``ocr_spark`` (its own fixture generator included) cannot silently
change what a workload feeds it. The same ``(seed, scale)`` always
writes byte-identical parquet files.

Two input families:

- transcripts ``(conv_id, turn_idx, role, text, tool, ts)`` for the
  extraction workloads, in two shapes (``mix`` and ``small``);
- the relational/corpus tables the query suite reads, with the column
  names and types of the driver's TPC-H-like test tables.
"""

from __future__ import annotations

import json
import random
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "truck trailer invoice bill route depot yard gate seal pallet crate "
    "cargo freight weight tonnage axle diesel permit toll border district "
    "loading unloading warehouse dock batch docket ledger party broker agent "
    "branch office village factory plant unit value amount total net gross "
    "tare scrap granule resin film bottle carton drum bag sack coil sheet"
).split()
_CHAT = (
    "ok sure thanks please send the copy again tomorrow today morning "
    "evening driver reached gate waiting unloading done paid pending check "
    "photo scan upload received missing wrong number call back later fine"
).split()
_HEADS = ("DELIVERY CHALLAN", "CONSIGNMENT NOTE", "TAX INVOICE", "E-WAY BILL", "WEIGHBRIDGE SLIP")
_CITIES = ("Pune", "Vapi", "Howrah", "Mysuru", "Ajmer", "Indore")
_STATES = ("Maharashtra", "Gujarat", "West Bengal", "Karnataka", "Rajasthan")
_UNITS = ("KGS", "KG", "MT", "TONS")
_EMOJI = ("✅", "\U0001f69a", "\U0001f4e6", "—")
_ROLES = ("user", "assistant", "tool")
_BASE_TS = np.datetime64(datetime(2026, 2, 1), "s")

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)


def _words(rng: random.Random, n: int, vocab=_WORDS) -> str:
    return " ".join(rng.choice(vocab) for _ in range(n))


def _sentence(rng: random.Random, lo: int, hi: int) -> str:
    s = _words(rng, rng.randint(lo, hi))
    return s[:1].upper() + s[1:] + "."


def _links(rng: random.Random, lo: int, hi: int) -> str:
    return " | ".join(
        f'<a href="/{rng.choice(_WORDS)}/{rng.randint(1, 500)}">{_words(rng, rng.randint(1, 3))}</a>'
        for _ in range(rng.randint(lo, hi))
    )


def _html(rng: random.Random) -> str:
    if rng.random() < 0.03:
        return "<html><head><title>blank</title></head><body></body></html>"
    blocks = []
    for _ in range(rng.randint(1, 6)):
        body = _sentence(rng, 18, 48)
        r = rng.random()
        if r < 0.2:
            body = body.replace(" ", " &amp; ", 1).replace(" ", " &#8212; ", 1)
        elif r < 0.4:
            w = body.split()
            w[rng.randrange(len(w))] = f"<strong>{rng.choice(_WORDS)} <em>note</em></strong>"
            body = " ".join(w)
        elif r < 0.5:
            body += ' Track it <a href="/track">on this page</a> any time.'
        blocks.append(f"<p>{body}</p>")
    if rng.random() < 0.1:
        blocks.append(f"<p>{_sentence(rng, 8, 16)}")
    if rng.random() < 0.1:
        blocks.append(f'<div title="rate > 5">{_sentence(rng, 10, 22)}</div>')
    side = "".join(f'<li><a href="/s/{i}">{_words(rng, 2)}</a></li>' for i in range(rng.randint(3, 9)))
    return (
        f"<html><head><title>{_words(rng, 3)}</title>"
        "<style>.c { margin: 0; } p > em { color: #222; }</style></head>\n<body>\n"
        f"<header><h1>{_words(rng, 4)}</h1></header>\n<nav>{_links(rng, 4, 12)}</nav>\n"
        f"<div>{_links(rng, 3, 9)}</div>\n<main>\n" + "\n".join(blocks) + "\n</main>\n"
        f"<aside><ul>{side}</ul></aside>\n"
        f"<script>var n = {rng.randint(0, 9)}; if (n > 2) {{ ping('{rng.choice(_WORDS)}'); }}</script>\n"
        f"<footer>{_links(rng, 2, 7)} <span>(c) 2026 {_words(rng, 2)}</span></footer>\n</body></html>"
    )


def _pdf_like(rng: random.Random) -> str:
    head = rng.choice(_HEADS)
    lines = [head, f"{rng.choice(_CITIES)} Roadways", str(rng.randint(100, 999999))]
    lines += [_words(rng, rng.randint(2, 5)).upper() for _ in range(rng.randint(0, 3))]
    lines.append(f"DATE: {rng.randint(1, 28)}/{rng.randint(1, 12)}/{rng.randint(2023, 2026)}")
    lines += ["", "Consignor", f"{_words(rng, 2).title()} Polymers"]
    lines += ["Consignee", f"{_words(rng, 2).title()} Traders"]
    lines += ["From", rng.choice(_CITIES), f"({rng.choice(_STATES)})"]
    lines += ["To", rng.choice(_CITIES), f"({rng.choice(_STATES)})", ""]
    lines += ["Invoice No.", f"INV-{rng.randint(100, 99999)}"]
    lines += ["Quantity", f"{rng.randint(1, 99)},{rng.randint(100, 999)}.{rng.randint(10, 99)}", rng.choice(_UNITS)]
    lines += ["VEHICLE NO", f": {rng.choice(('MH', 'GJ', 'WB'))}{rng.randint(10, 99)}AB {rng.randint(1000, 9999)}"]
    lines += [rng.choice(("Material", "Commodity")), rng.choice(("HDPE REGRIND", "PET FLAKE", "LDPE FILM"))]
    lines += ["net", "weight", str(rng.randint(1000, 99999)), ""]
    lines += [f"{_words(rng, 4)} consign-", f"ment {_words(rng, 3)}", f"Page {rng.randint(1, 4)} of 4"]
    for _ in range(rng.randint(2, 4)):
        lines.append(f"{_words(rng, 2)[:22]:<24}{_words(rng, 2)}")
    lines += ["----------------------------", "SR NO  DESCRIPTION        QTY"]
    for i in range(rng.randint(1, 5)):
        lines.append(f"{i + 1}  SCRAP {rng.choice(('SOFT', 'HARD'))}  {rng.randint(1, 30)}.{rng.randint(100, 999)}")
    lines.append(f"TOTAL  {rng.randint(10, 99)}.{rng.randint(100, 999)} MT")
    return "\n".join(lines)


def _plain(rng: random.Random) -> str:
    paras = []
    for _ in range(rng.randint(1, 4)):
        para = " ".join(_sentence(rng, 10, 24) for _ in range(rng.randint(1, 4)))
        r = rng.random()
        if r < 0.3:
            para = para.replace(" ", "  ", 3).replace(" ", "\t", 1)
        elif r < 0.5:
            para = rng.choice(("Το ", "Tо ", " T0 ")) + para
        elif r < 0.65:
            para = para.replace(" ", " ", 2).replace(" ", "​ ", 1)
        elif r < 0.75:
            para = f"{rng.choice(_EMOJI)} {para}"
        paras.append(para)
    text = "\n\n".join(paras)
    return text.replace("\n", "\r\n") if rng.random() < 0.3 else text


def _chat(rng: random.Random) -> str:
    s = " ".join(_words(rng, rng.randint(3, 14), _CHAT) for _ in range(rng.randint(1, 3)))
    return s[:1].upper() + s[1:] + rng.choice((".", "?", "!", " \U0001f44d"))


_MAKERS = {"html": _html, "pdf_like": _pdf_like, "plain": _plain, "chat": _chat}

# kind weights and conversation-size model per transcript shape
SHAPES = {
    # fixture-shaped: 40/30/30 html/pdf_like/plain, two heavy
    # conversations holding ~10% of turns, the rest 2-12 turns
    "mix": {"turns": 6000, "kinds": {"html": 0.4, "pdf_like": 0.3, "plain": 0.3}},
    # chat-sized plain turns with a little html/pdf_like; Zipf-like
    # conversation sizes plus several conversations past the salt
    # threshold
    "small": {"turns": 10000, "kinds": {"chat": 0.94, "html": 0.03, "pdf_like": 0.03}},
}


def _conv_sizes(rng: random.Random, shape: str, target: int) -> list[int]:
    if shape == "mix":
        sizes = [max(8, target // 12), max(6, target // 18)]
        while sum(sizes) < target:
            sizes.append(rng.randint(2, 12))
        return sizes
    # a Pareto tail varies too much from seed to seed: the sizes (hence
    # the task balance) are the same for every seed, only texts differ
    rng = random.Random(f"conv_sizes/small/{target}")
    heavy = max(1, round(3 * min(1.0, target / SHAPES["small"]["turns"])))
    sizes = [int(target * rng.uniform(0.205, 0.24)) for _ in range(heavy)]
    while sum(sizes) < target:
        sizes.append(min(1500, int(rng.paretovariate(1.15))))
    return sizes


def transcripts(seed: int, shape: str, scale: float = 1.0) -> tuple[pa.Table, list[str], list[int]]:
    """One transcripts table; returns (table, generated kind per row,
    conversation sizes)."""
    spec = SHAPES[shape]
    rng = random.Random(f"transcripts/{shape}/{seed}")
    target = max(40, int(spec["turns"] * scale))
    sizes = _conv_sizes(rng, shape, target)
    kinds, weights = zip(*spec["kinds"].items())
    conv, idx, role, text, tool, gen_kind = [], [], [], [], [], []
    for c, size in enumerate(sizes):
        for t in range(size):
            k = rng.choices(kinds, weights)[0]
            conv.append(f"conv{c:07d}")
            idx.append(t)
            role.append(_ROLES[t % 3])
            tool.append(f"tool{rng.randint(0, 9)}" if t % 3 == 2 else None)
            text.append(_MAKERS[k](rng))
            gen_kind.append(k)
    idx_arr = np.asarray(idx, dtype=np.int64)
    conv_no = np.repeat(np.arange(len(sizes), dtype=np.int64), sizes)
    ts = _BASE_TS + (conv_no * 3600 + idx_arr).astype("timedelta64[s]")
    table = pa.table(
        [conv, idx_arr.astype(np.int32), role, text, tool, ts.astype("datetime64[us]")],
        schema=TRANSCRIPT_SCHEMA,
    )
    return table, gen_kind, sizes


def write_transcripts(path: str, table: pa.Table) -> None:
    # bounded row groups keep the file splittable, like a real table
    pq.write_table(table, path, row_group_size=2000)


# ---------------------------------------------------------------------------
# query-suite tables
# ---------------------------------------------------------------------------

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_DOC_WORDS = np.array(
    (
        "a the row scan join hash sort key value table part line order query "
        "group agg filter window batch stream column spark data merge vector "
        "small big fast slow customer"
    ).split()
)
_EMB_DIM = 64

# rows at scale 1.0
TABLE_ROWS = {"customer": 1500, "supplier": 100, "orders": 8000, "events": 8000, "documents": 300, "embeddings": 300}


def _days(rng: np.random.Generator, start: str, n_days: int, size: int) -> np.ndarray:
    return np.datetime64(start, "D") + rng.integers(0, n_days, size).astype("timedelta64[D]")


def query_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 0x51])
    n = {k: max(20, int(v * scale)) for k, v in TABLE_ROWS.items()}
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    nc = n["customer"]
    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": _SEGMENTS[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    no = n["orders"]
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": _days(rng, "1995-01-01", 2403, no).astype("datetime64[us]"),
        "o_orderpriority": _PRIORITIES[rng.integers(0, 5, no)],
    })
    lines_per = rng.integers(1, 8, no)
    nl = int(lines_per.sum())
    qty = rng.integers(1, 51, nl).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(no), lines_per), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 4 * nc // 3 + 1, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines_per]), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, "1995-01-02", 2498, nl).astype("datetime64[us]"),
    })
    ne = n["events"]
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    events = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": (np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(10, ne // 66), ne), pa.int64()),
        "event_type": _EVENT_TYPES[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(25.0, ne) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    })
    return {
        "region": region, "nation": nation, "customer": customer, "supplier": supplier,
        "orders": orders, "lineitem": lineitem, "events": events,
        "documents": _documents(rng, n["documents"]), "embeddings": _embeddings(rng, n["embeddings"]),
    }


def _documents(rng: np.random.Generator, nd: int) -> pa.Table:
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.08:
            # near-duplicate of an earlier document: a few words swapped
            w = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(w), int(rng.integers(1, 4))):
                w[j] = str(rng.choice(_DOC_WORDS))
            texts.append(" ".join(w))
        else:
            # short documents: the DuckDB MinHash oracle is quadratic in length
            texts.append(" ".join(_DOC_WORDS[rng.integers(0, len(_DOC_WORDS), int(rng.integers(6, 40)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": _LANGS[rng.choice(5, nd, p=[0.5, 0.14, 0.12, 0.12, 0.12])],
        "source": [f"src{k}" for k in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, nv: int) -> pa.Table:
    centroids = rng.normal(0, 1, (10, _EMB_DIM))
    labels = rng.integers(0, 10, nv)
    vecs = (centroids[labels] + rng.normal(0, 0.8, (nv, _EMB_DIM))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
