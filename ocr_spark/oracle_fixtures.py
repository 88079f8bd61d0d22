"""Pure-Python oracle materialization for the non-SQL pipeline queries.

The extraction/fields pipelines can't be expressed in ANSI SQL, but the
shared core (``ocr_spark/core`` — used verbatim by both the Arrow UDFs
and this module, see CLAUDE.md invariants) *can* be executed without
Spark.  This module runs that pure-Python path over the same inputs and
writes the result as parquet; the DuckDB oracle for each pipeline query
is then a plain ``SELECT``/aggregation over that parquet.  The
comparison is still meaningful: the two sides share only the leaf
functions — Spark's Arrow batching, schema projection, partitioning,
and aggregation plans are all exercised against an independent
single-threaded execution.

Spans are serialized exactly like Spark's ``to_json`` of
``array<struct<start:int,end:int>>`` (compact separators, field order
``start,end``) so string equality holds.

Files are cached in the temp dir keyed by the fixture generator
version (stale files from older generators are never reused).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import tempfile

from ocr_spark.fixtures import FIXTURE_VERSION, transcripts_fixture_path
from ocr_spark.sources.io import publish


def _core_tag() -> str:
    """Digest of the shared extraction core's source: cached oracle
    files depend on BOTH the fixture generator version and the code
    that produced them — without this in the cache key, editing
    ocr_spark/core would silently reuse a stale oracle parquet."""
    h = hashlib.md5()
    root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "core")
    paths = sorted(glob.glob(os.path.join(root, "*.py")))
    if not paths:
        # zip/egg import or layout change: a constant digest would
        # silently defeat the stale-cache protection — fail loudly
        raise RuntimeError(f"no core sources found under {root}")
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


_CORE_TAG = _core_tag()


def spans_to_json(spans: list[tuple[int, int]]) -> str:
    """Byte-identical to Spark ``to_json(spans)`` for SPAN_TYPE arrays."""
    return json.dumps(
        [{"start": s, "end": e} for s, e in spans], separators=(",", ":")
    )


def oracle_path(name: str) -> str:
    """Path a named oracle parquet will live at, WITHOUT materializing
    it — used to embed paths in static ORACLE_SQL strings at import
    time; ``ensure_oracle_fixtures`` builds the files on demand."""
    return os.path.join(tempfile.gettempdir(), name)


def extract_oracle_name(sf: float) -> str:
    return f"ocr_spark_oracle_extract_v{FIXTURE_VERSION}_{_CORE_TAG}_sf{sf}.parquet"


def docextract_oracle_name(sf_dir: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir))
    return f"ocr_spark_oracle_docextract_v{FIXTURE_VERSION}_{_CORE_TAG}_{tag}.parquet"


def fields_oracle_name(sf: float) -> str:
    return f"ocr_spark_oracle_fields_v{FIXTURE_VERSION}_{_CORE_TAG}_sf{sf}.parquet"


def _write_extraction(rows, id_cols, out_path: str) -> None:
    """rows: iterable of (id_tuple, text); writes id_cols + extraction."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.core.extract import extract_turn

    cols: dict[str, list] = {name: [] for name, _ in id_cols}
    for name in ("kind", "extracted_text", "spans", "blocks_kept",
                 "blocks_dropped", "bytes_in", "bytes_out"):
        cols[name] = []
    for ids, text in rows:
        for (name, _), v in zip(id_cols, ids):
            cols[name].append(v)
        r = extract_turn(text)
        cols["kind"].append(r.kind)
        cols["extracted_text"].append(r.extracted_text)
        cols["spans"].append(spans_to_json(r.spans))
        cols["blocks_kept"].append(r.blocks_kept)
        cols["blocks_dropped"].append(r.blocks_dropped)
        cols["bytes_in"].append(r.bytes_in)
        cols["bytes_out"].append(r.bytes_out)
    schema = pa.schema(
        [(name, t) for name, t in id_cols]
        + [
            ("kind", pa.string()),
            ("extracted_text", pa.string()),
            ("spans", pa.string()),
            ("blocks_kept", pa.int32()),
            ("blocks_dropped", pa.int32()),
            ("bytes_in", pa.int64()),
            ("bytes_out", pa.int64()),
        ]
    )
    pq.write_table(
        pa.table({n: pa.array(v, type=schema.field(n).type) for n, v in cols.items()},
                 schema=schema),
        out_path,
    )


def transcripts_extraction_oracle_path(sf: float) -> str:
    """Extraction over the synthetic transcripts fixture, pure Python."""
    import pyarrow.parquet as pq

    def build(out: str) -> None:
        t = pq.read_table(
            transcripts_fixture_path(sf), columns=["conv_id", "turn_idx", "text"]
        )
        import pyarrow as pa

        rows = zip(
            zip(t.column("conv_id").to_pylist(), t.column("turn_idx").to_pylist()),
            t.column("text").to_pylist(),
        )
        _write_extraction(
            rows, [("conv_id", pa.string()), ("turn_idx", pa.int32())], out
        )

    return publish(oracle_path(extract_oracle_name(sf)), build)


def documents_extraction_oracle_path(sf_dir: str) -> str:
    """Extraction over the driver's documents table, pure Python."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(out: str) -> None:
        t = pq.read_table(
            os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
        )
        rows = zip(
            zip(t.column("doc_id").to_pylist()),
            t.column("text").to_pylist(),
        )
        _write_extraction(rows, [("doc_id", pa.int64())], out)

    return publish(oracle_path(docextract_oracle_name(sf_dir)), build)


def fields_oracle_path(sf: float) -> str:
    """Per-turn document fields over the pdf_like extracted turns,
    pure Python (same filter as ``q_extract_fields``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.core.fields import FIELD_NAMES, extract_fields

    def build(out: str) -> None:
        t = pq.read_table(transcripts_extraction_oracle_path(sf))
        cols: dict[str, list] = {"conv_id": [], "turn_idx": []}
        for name in FIELD_NAMES:
            cols[name] = []
        for conv_id, turn_idx, kind, text in zip(
            t.column("conv_id").to_pylist(),
            t.column("turn_idx").to_pylist(),
            t.column("kind").to_pylist(),
            t.column("extracted_text").to_pylist(),
        ):
            if kind != "pdf_like":
                continue
            f = extract_fields(text or "")
            cols["conv_id"].append(conv_id)
            cols["turn_idx"].append(turn_idx)
            for name in FIELD_NAMES:
                cols[name].append(getattr(f, name))
        schema = pa.schema(
            [("conv_id", pa.string()), ("turn_idx", pa.int32())]
            + [(name, pa.string()) for name in FIELD_NAMES]
        )
        pq.write_table(
            pa.table(
                {n: pa.array(v, type=schema.field(n).type) for n, v in cols.items()},
                schema=schema,
            ),
            out,
        )

    return publish(oracle_path(fields_oracle_name(sf)), build)


def ensure_oracle_fixtures(sf: float = 0.01, sf_dir: str = "/root/testdata/sf0.01") -> None:
    """Materialize every oracle-side parquet the ORACLE_SQL strings
    reference (the driver runs its correctness pass at sf0.01)."""
    transcripts_extraction_oracle_path(sf)
    fields_oracle_path(sf)
    if os.path.exists(os.path.join(sf_dir, "documents.parquet")):
        documents_extraction_oracle_path(sf_dir)
