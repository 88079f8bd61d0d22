"""Fixture generator determinism + schema (FIXTURES.md §1)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from ocr_spark.fixtures import gen_transcripts


def test_deterministic():
    a = gen_transcripts(0.001)
    b = gen_transcripts(0.001)
    pd.testing.assert_frame_equal(a, b)


def test_schema_and_keys():
    df = gen_transcripts(0.001)
    assert list(df.columns) == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert df["turn_idx"].dtype == np.int32
    assert df["ts"].dtype == "datetime64[us]"
    # (conv_id, turn_idx) unique + dense from 0
    assert not df.duplicated(["conv_id", "turn_idx"]).any()
    assert (df.groupby("conv_id")["turn_idx"].min() == 0).all()
    sizes = df.groupby("conv_id").size()
    assert (df.groupby("conv_id")["turn_idx"].max() + 1 == sizes).all()
    # ts monotone within conv
    assert (df.sort_values(["conv_id", "turn_idx"]).groupby("conv_id")["ts"]
            .apply(lambda s: s.is_monotonic_increasing).all())


def test_skew_present():
    df = gen_transcripts(0.001)
    sizes = df.groupby("conv_id").size().sort_values(ascending=False)
    # the 2 heavy convs dominate the median by a large factor
    assert sizes.iloc[0] >= 10 * sizes.median()


def test_tool_column_rule():
    df = gen_transcripts(0.001)
    assert df.loc[df.role != "tool", "tool"].isna().all()
    assert df.loc[df.role == "tool", "tool"].str.match(r"tool\d").all()


def test_input_schema_validation(spark, transcripts_path):
    from ocr_spark.sources.io import SchemaMismatch, validate_input_schema
    import pytest as _pytest

    df = spark.read.parquet(transcripts_path)
    validate_input_schema(
        df,
        {"conv_id": "string", "turn_idx": "int", "text": "string"},
    )
    with _pytest.raises(SchemaMismatch):
        validate_input_schema(df, {"conv_id": "string", "nope": "int"})
    with _pytest.raises(SchemaMismatch):
        validate_input_schema(df, {"turn_idx": "string"})
