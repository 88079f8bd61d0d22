"""Readers/writers: Iceberg-first with parquet-path fallback.

Rebuild of the reference's source/sink surface (SURVEY.md §2.1):
the directory scan + extension filter (S1, ``OCR API 2/main.py:42-72``)
becomes a table read with a predicate; the Socket.IO sink (S5) becomes
the output table + lineage manifest. One interface so the job code is
identical whether the catalog is Iceberg (production) or bare parquet
paths: path-vs-identifier picks the surface by name shape, and
identifier writes branch on a one-time classloader probe for the
Iceberg runtime (plans/session.iceberg_runtime_available) — never a
try/except at task time.

The report exports (S7 CSV, S8 PDF) have no wrapper here: their data
is the ``transaction_pivot`` driver query, written with Spark's own
``df.write.csv``.
"""

from __future__ import annotations

import os

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


def write_output(df: DataFrame, dest: str) -> None:
    """Write (overwrite) a table. A path writes parquet; an identifier routes by
    runtime: with Iceberg available, a DataSourceV2 ``writeTo(...)
    createOrReplace`` (an atomic Iceberg snapshot commit — the real
    deployment's transactional sink); without it, a session-catalog
    managed parquet table via ``saveAsTable`` (the V1 path — the
    session catalog does not support v2 REPLACE TABLE)."""
    from ocr_spark.plans.session import iceberg_runtime_available

    if not _is_path(dest):
        if iceberg_runtime_available(df.sparkSession):
            df.writeTo(dest).using("iceberg").createOrReplace()
        else:
            df.write.mode("overwrite").saveAsTable(dest)
    else:
        df.write.mode("overwrite").parquet(dest)


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
