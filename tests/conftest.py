"""Shared fixtures: one local SparkSession per test session."""

from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from ocr_spark.plans.session import build_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = build_session("ocr_spark-tests", master=f"local[{cpus}]")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def transcripts_path(tmp_path_factory):
    """Small deterministic transcript fixture table (sf0.001)."""
    from ocr_spark.fixtures import write_transcripts

    path = tmp_path_factory.mktemp("fixtures") / "transcripts_sf0001.parquet"
    return write_transcripts(str(path), sf=0.001)
