"""Table-identifier surface of read_input/write_output: the Iceberg
branch when the runtime JAR is present, the session-catalog managed
parquet table otherwise (this sandbox ships no JAR, so the fallback is
the live-tested branch and the Iceberg branch is skip-guarded)."""

from __future__ import annotations

import pytest

from ocr_spark.plans.session import iceberg_runtime_available
from ocr_spark.sources.io import read_input, write_output


def test_runtime_probe_is_cached_and_boolean(spark):
    a = iceberg_runtime_available(spark)
    assert isinstance(a, bool)
    assert iceberg_runtime_available(spark) is a  # cached per context


def test_identifier_roundtrip_via_session_catalog(spark, tmp_path):
    """Identifier writes must land in the catalog and read back through
    the same identifier — job code never branches on deployment."""
    if iceberg_runtime_available(spark):
        pytest.skip("covered by test_identifier_roundtrip_via_iceberg")
    df = spark.createDataFrame(
        [("c1", 0, "hello world"), ("c1", 1, "second turn")],
        "conv_id string, turn_idx int, text string",
    )
    tbl = "ocr_spark_test_roundtrip"
    try:
        write_output(df, tbl)
        back = read_input(spark, tbl)
        assert sorted(tuple(r) for r in back.collect()) == sorted(
            tuple(r) for r in df.collect()
        )
        # the fallback provider is parquet, not Iceberg
        provider = {
            r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect()
        }.get("Provider", "").lower()
        assert provider == "parquet"
        # overwrite is idempotent (same identifier, fresh contents)
        write_output(df.limit(1), tbl)
        assert read_input(spark, tbl).count() == 1
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_identifier_roundtrip_via_iceberg(spark, tmp_path):
    """The production branch: an atomic Iceberg snapshot commit via
    writeTo().createOrReplace(). Runs only where the runtime JAR is on
    the classpath (a real cluster / a dev box with --packages)."""
    if not iceberg_runtime_available(spark):
        pytest.skip("Iceberg runtime JAR not on classpath in this sandbox")
    df = spark.createDataFrame([("c1", 0, "t")], "conv_id string, turn_idx int, text string")
    tbl = "ocr_spark_test_iceberg"
    try:
        write_output(df, tbl)
        assert read_input(spark, tbl).count() == 1
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")

