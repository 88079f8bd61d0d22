"""Output checks, run outside every timed region.

- Extraction: an order-independent digest plus the row count of
  ``(conv_id, turn_idx, kind, extracted_text, spans, blocks_kept,
  blocks_dropped)``, from the in-process ``core.extract_turn`` oracle
  and from the job's parquet output.
- Golden: for the default seed the oracle digest must also equal the
  one committed in ``golden.json``, which catches a change to the core
  that the shared-code oracle cannot see.
- Queries: each Spark result against its DuckDB ``ORACLE_SQL`` twin,
  order-insensitively, with floats compared to 9 significant digits.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import pyarrow.parquet as pq

GOLDEN_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden.json")

OUT_COLS = ["conv_id", "turn_idx", "kind", "extracted_text", "spans", "blocks_kept", "blocks_dropped"]


class Digest:
    """Order-independent digest of output rows."""

    def __init__(self):
        self._rows: list[bytes] = []

    def add(self, row: tuple) -> None:
        self._rows.append(hashlib.sha1(repr(row).encode("utf-8", "surrogatepass")).digest())

    def result(self) -> tuple[int, str]:
        h = hashlib.sha256()
        for r in sorted(self._rows):
            h.update(r)
        return len(self._rows), h.hexdigest()


def oracle_digest(conv, idx, results) -> tuple[int, str]:
    d = Digest()
    for c, i, r in zip(conv, idx, results):
        d.add((c, i, r.kind, r.extracted_text, tuple(tuple(s) for s in r.spans),
               r.blocks_kept, r.blocks_dropped))
    return d.result()


def output_digest(output_dir: str) -> tuple[int, str]:
    """Digest of a ``run_extraction`` output directory (all shards;
    the ``_manifest`` tree is skipped by its underscore prefix)."""
    t = pq.read_table(output_dir, columns=OUT_COLS).to_pydict()
    d = Digest()
    for c, i, k, x, sp, bk, bd in zip(*(t[col] for col in OUT_COLS)):
        d.add((c, i, k, x, tuple((s["start"], s["end"]) for s in sp or ()), bk, bd))
    return d.result()


def golden(workload: str) -> dict | None:
    with open(GOLDEN_PATH) as f:
        return json.load(f).get(workload)


def write_golden(workload: str, entry: dict) -> None:
    data = {}
    if os.path.exists(GOLDEN_PATH):
        with open(GOLDEN_PATH) as f:
            data = json.load(f)
    data[workload] = entry
    with open(GOLDEN_PATH, "w") as f:
        json.dump(data, f, indent=2, sort_keys=True)
        f.write("\n")


def _canon(rows, cols) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.9g}"
        return "\0NULL" if v is None else str(v)

    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def same_result(spark_cols, spark_rows, duck_cols, duck_rows) -> str | None:
    """None when equal, else a one-line reason."""
    if sorted(spark_cols) != sorted(duck_cols):
        return f"columns {sorted(spark_cols)} vs {sorted(duck_cols)}"
    if len(spark_rows) != len(duck_rows):
        return f"rows {len(spark_rows)} vs {len(duck_rows)}"
    a, b = _canon(spark_rows, spark_cols), _canon(duck_rows, duck_cols)
    if a != b:
        diff = next((x, y) for x, y in zip(a, b) if x != y)
        return f"first difference {diff}"
    return None
