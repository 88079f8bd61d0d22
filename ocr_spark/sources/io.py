"""Readers and the one file-publish step.

Rebuild of the reference's source/sink surface (SURVEY.md §2.1):
the directory scan + extension filter (S1, ``OCR API 2/main.py:42-72``)
becomes a table read with a predicate; the Socket.IO sink (S5) becomes
the job's directory of parquet shards + lineage manifest (job.py,
Spark's own writer). Input is path-or-table by name shape, so the job
code is identical on an Iceberg table (production) or a parquet path.
``publish`` is how every cached or marker file lands at its path.

The report exports (S7 CSV, S8 PDF) have no wrapper here: their data
is the ``transaction_pivot`` driver query, written with Spark's own
``df.write.csv``.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# The driver-generated relational tables (TESTDATA.md)
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _is_path(source: str) -> bool:
    return "/" in source or source.endswith(".parquet")


def read_input(spark: SparkSession, source: str) -> DataFrame:
    """Read a table. A path reads as parquet; an identifier without
    '/' resolves through the session's catalog — with the Iceberg
    runtime on the classpath and a catalog configured, that IS the
    Iceberg table (snapshot-isolated scan); otherwise the session
    catalog's managed table. One call signature either way, so job
    code is identical on the production catalog and in this sandbox."""
    if not _is_path(source):
        return spark.table(source)
    return spark.read.parquet(source)


def publish(path: str, build: Callable[[str], object]) -> str:
    """Return ``path``, first building it if it does not exist:
    ``build(tmp)`` writes a uniquely named temp file that is renamed
    onto ``path`` atomically, so no reader sees a partial file. If
    ``build`` raises, the temp is removed and ``path`` stays absent."""
    if not os.path.exists(path):
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        try:
            build(tmp)
            os.replace(tmp, path)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)
    return path


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One driver testdata table as a DataFrame."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


class SchemaMismatch(ValueError):
    pass


def validate_input_schema(df: DataFrame, required: dict[str, str]) -> None:
    """Fail-fast input-shape validation (SURVEY P5 —
    ``docOcrWeb/src/App.jsx:346-421``'s upload-shape check, rebuilt as
    a schema assertion). ``required`` maps column → simpleString type."""
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    problems = []
    for col, typ in required.items():
        if col not in actual:
            problems.append(f"missing column {col}:{typ}")
        elif actual[col] != typ:
            problems.append(f"column {col} is {actual[col]}, expected {typ}")
    if problems:
        raise SchemaMismatch("; ".join(problems))
