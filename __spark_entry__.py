"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship extraction pipeline (sniff → route →
extract → normalize, one Arrow-batch UDF stage) over the sf0.001
documents table. ``queries``/``oracle_sql`` expose the SURVEY.md §2
operator suite plus the training-data operators (dedup, similarity
search, text analysis, multimodal plumbing); implementations live in
``ocr_spark.queries`` (Spark) with DuckDB oracle twins generated in the
same module so both sides share constants.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from ocr_spark.queries import q_extract_documents

    return q_extract_documents(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from ocr_spark.queries import SPARK_QUERIES

    return dict(SPARK_QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query.

    Pipeline queries (extract_*, transaction_pivot) reference parquet
    written by an independent pure-Python run of the shared extraction
    core (ocr_spark/oracle_fixtures.py) and aggregate it in SQL;
    conv_rollup's oracle is plain SQL over the same transcripts parquet
    both sides read. This call materializes those files for the
    driver's sf0.01 correctness tier. Every query key has an oracle
    (``ivf_topk`` runs the seeded closed-form quantizer, fully
    SQL-expressible).
    """
    from ocr_spark.oracle_fixtures import ensure_oracle_fixtures
    from ocr_spark.queries import ORACLE_SF, ORACLE_SF_DIR, ORACLE_SQL

    ensure_oracle_fixtures(ORACLE_SF, ORACLE_SF_DIR)
    return dict(ORACLE_SQL)
