"""Arrow-batch UDF wrappers around the pure extraction core.

Zero per-row Python at the Spark row boundary (north_rule): rows cross
into Python as Arrow record batches; inside a batch the per-document
parsers lean on C-backed ``re`` and ``unicodedata`` (SURVEY.md §4). The
html path is the regex tokenizer ``core/html_main._scan``;
``html.parser`` (pure Python, ``extract_html_reference``) runs only for
the rare document that tokenizer stops on, and as its test reference.
The reference processes one document per network round-trip (``OCR API
2/ocr_utils.py:6-13``); here one Python invocation handles
``spark.sql.execution.arrow.maxRecordsPerBatch`` documents.
"""

from __future__ import annotations

import sys
import zipimport

import pandas as pd
from pyspark.sql.functions import pandas_udf

from ocr_spark.core.extract import extract_turn
from ocr_spark.schema import EXTRACT_STRUCT


def drop_dead_importers() -> None:
    """Worker hygiene; call first in every Python entry point. pyspark
    runs ``importlib.invalidate_caches()`` before each task, which makes
    every zipimporter re-read its zip: the spark-core jar (no ``.py``)
    and one per imported ``pyspark.zip`` subpackage (docs/SCALE.md §1).
    Drop those, so only the top-level zips are re-read; the path hooks
    rebuild a dropped subdirectory importer from zipimport's cache."""
    sys.path[:] = [p for p in sys.path if not str(p).endswith(".jar")]
    for key, f in list(sys.path_importer_cache.items()):
        if isinstance(f, zipimport.zipimporter) and (f.archive.endswith(".jar") or f.prefix):
            del sys.path_importer_cache[key]


def extract_batch(text: pd.Series) -> pd.DataFrame:
    """Run the extraction core over one Arrow batch of payloads."""
    results = [extract_turn(t) for t in text]
    return pd.DataFrame(
        {
            "kind": pd.Series([r.kind for r in results], dtype="object"),
            "extracted_text": pd.Series(
                [r.extracted_text for r in results], dtype="object"
            ),
            "spans": pd.Series(
                [
                    [{"start": s, "end": e} for s, e in r.spans]
                    for r in results
                ],
                dtype="object",
            ),
            "blocks_kept": pd.Series([r.blocks_kept for r in results], dtype="int32"),
            "blocks_dropped": pd.Series(
                [r.blocks_dropped for r in results], dtype="int32"
            ),
            "bytes_in": pd.Series([r.bytes_in for r in results], dtype="int64"),
            "bytes_out": pd.Series([r.bytes_out for r in results], dtype="int64"),
        },
        index=text.index,
    )


@pandas_udf(EXTRACT_STRUCT)
def extract_udf(text: pd.Series) -> pd.DataFrame:
    """Scalar Arrow UDF: text → extraction struct."""
    drop_dead_importers()
    return extract_batch(text)


def fields_batch(text: pd.Series) -> pd.DataFrame:
    """Document-field extraction over one Arrow batch (reconstructed
    pdf_like text → fixed field struct; core/fields.py)."""
    from ocr_spark.core.fields import FIELD_NAMES, extract_fields

    results = [extract_fields(t or "") for t in text]
    return pd.DataFrame(
        {name: pd.Series([getattr(r, name) for r in results], dtype="object")
         for name in FIELD_NAMES},
        index=text.index,
    )


def _fields_struct_type():
    from pyspark.sql.types import StringType, StructField, StructType

    from ocr_spark.core.fields import FIELD_NAMES

    return StructType([StructField(n, StringType()) for n in FIELD_NAMES])


@pandas_udf(_fields_struct_type())
def fields_udf(text: pd.Series) -> pd.DataFrame:
    """Scalar Arrow UDF: reconstructed text → document fields."""
    drop_dead_importers()
    return fields_batch(text)
