"""The file layer (sources/io.py): ``read_input`` resolves a name
without '/' through the session catalog (an Iceberg table where the
runtime is configured, a managed table here), the extraction job gives
the same output on a table as on its parquet path, and ``publish``
builds a file at most once and never leaves a partial one."""

from __future__ import annotations

import os

import pytest

from ocr_spark.job import run_extraction
from ocr_spark.sources.io import publish, read_input


def test_identifier_roundtrip_via_session_catalog(spark):
    """A table written by Spark's own writer reads back through
    read_input by its identifier — job code never branches on
    deployment."""
    df = spark.createDataFrame(
        [("c1", 0, "hello world"), ("c1", 1, "second turn")],
        "conv_id string, turn_idx int, text string",
    )
    tbl = "ocr_spark_test_roundtrip"
    try:
        df.write.mode("overwrite").saveAsTable(tbl)
        back = read_input(spark, tbl)
        assert sorted(tuple(r) for r in back.collect()) == sorted(
            tuple(r) for r in df.collect()
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_job_on_table_input_equals_path_input(spark, transcripts_path, tmp_path):
    tbl = "ocr_spark_test_transcripts"
    try:
        spark.read.parquet(transcripts_path).write.mode("overwrite").saveAsTable(tbl)
        for name, source in (("table", tbl), ("path", transcripts_path)):
            run_extraction(
                spark, source, str(tmp_path / name), n_shards=2, num_partitions=4
            )
        got = {
            name: sorted(tuple(r) for r in spark.read.parquet(str(tmp_path / name)).collect())
            for name in ("table", "path")
        }
        assert len(got["table"]) == spark.read.parquet(transcripts_path).count() > 0
        assert got["table"] == got["path"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def _write(text: str, calls: list):
    def build(tmp: str) -> None:
        calls.append(tmp)
        with open(tmp, "w") as f:
            f.write(text)

    return build


def test_publish_builds_once(tmp_path):
    path = str(tmp_path / "f.txt")
    calls: list = []
    assert publish(path, _write("first", calls)) == path
    assert publish(path, _write("second", calls)) == path
    assert len(calls) == 1 and calls[0] != path
    with open(path) as f:
        assert f.read() == "first"
    assert os.listdir(tmp_path) == ["f.txt"]


def test_publish_failed_build_leaves_nothing(tmp_path):
    path = str(tmp_path / "f.txt")

    def broken(tmp: str) -> None:
        with open(tmp, "w") as f:
            f.write("partial")
        raise OSError("disk full")

    with pytest.raises(OSError, match="disk full"):
        publish(path, broken)
    assert os.listdir(tmp_path) == []
    calls: list = []
    publish(path, _write("whole", calls))
    assert len(calls) == 1
    with open(path) as f:
        assert f.read() == "whole"
