"""Arrow-batch stages around the pure extraction core.

Zero per-row Python at the Spark row boundary (north_rule): rows cross
into Python as Arrow record batches; inside a batch the per-document
parsers lean on C-backed ``re`` and ``unicodedata`` (SURVEY.md §4). The
html path is the regex tokenizer ``core/html_main._scan``;
``html.parser`` (pure Python, ``extract_html_reference``) runs only for
the rare document that tokenizer stops on, and as its test reference.
The reference processes one document per network round-trip (``OCR API
2/ocr_utils.py:6-13``); here one Python invocation handles
``spark.sql.execution.arrow.maxRecordsPerBatch`` documents.

Every Python stage has one shape, ``mapInPandas``: ``map_batches``
runs a per-batch function over a frame; only the job's runner keeps
its own generator, for its per-task lineage (docs/SCALE.md §1).
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
import zipimport
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ocr_spark.core.extract import extract_turn
from ocr_spark.core.fields import FIELD_NAMES, extract_fields


def drop_dead_importers() -> None:
    """Worker hygiene, run first by both stage bodies. pyspark
    runs ``importlib.invalidate_caches()`` before each task, which makes
    every zipimporter re-read its zip: the spark-core jar (no ``.py``)
    and one per imported ``pyspark.zip`` subpackage (docs/SCALE.md §1).
    Drop those, so only the top-level zips are re-read; the path hooks
    rebuild a dropped subdirectory importer from zipimport's cache."""
    sys.path[:] = [p for p in sys.path if not str(p).endswith(".jar")]
    for key, f in list(sys.path_importer_cache.items()):
        if isinstance(f, zipimport.zipimporter) and (f.archive.endswith(".jar") or f.prefix):
            del sys.path_importer_cache[key]


def ensure_package_shipped(spark: SparkSession) -> None:
    """Ship the ``ocr_spark`` package to executors.

    Equivalent of ``spark-submit --py-files engine.zip`` (SURVEY.md
    §3.4) for sessions that weren't launched that way: zip the package
    once and ``addPyFile`` it so Python workers can unpickle the stage
    functions. No-op if already shipped on this SparkContext.
    """
    sc = spark.sparkContext
    if getattr(sc, "_ocr_spark_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    fd, zip_path = tempfile.mkstemp(prefix="ocr_spark_", suffix=".zip")
    os.close(fd)
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.join(
                        "ocr_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    sc.addPyFile(zip_path)
    sc._ocr_spark_shipped = True
    # Spark serves the zip through its file server from its own copy;
    # reclaim the staging file when the process exits
    import atexit

    atexit.register(lambda p=zip_path: os.path.exists(p) and os.unlink(p))


def map_batches(df: DataFrame, fn: Callable, schema: StructType) -> DataFrame:
    """One ``mapInPandas`` stage: ``fn`` maps each Arrow batch of
    ``df`` to a frame of ``schema``. Ships the package, and runs the
    worker hygiene before the first batch."""
    ensure_package_shipped(df.sparkSession)

    def run(batches):
        drop_dead_importers()
        for pdf in batches:
            yield fn(pdf)

    return df.mapInPandas(run, schema)


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


def extract_rows(pdf: pd.DataFrame) -> pd.DataFrame:
    """One batch of rows with a ``text`` column → the same rows, ``text``
    replaced by the extraction columns (``schema.EXTRACT_STRUCT``)."""
    return pdf.drop(columns="text").join(extract_batch(pdf["text"]))


def fields_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Document fields over one batch: reconstructed pdf_like
    ``extracted_text`` → the fixed field columns (core/fields.py), the
    batch's other columns kept."""
    fields = [extract_fields(t or "") for t in pdf["extracted_text"]]
    return pdf.drop(columns="extracted_text").join(
        pd.DataFrame(fields, columns=FIELD_NAMES, index=pdf.index, dtype="object")
    )
