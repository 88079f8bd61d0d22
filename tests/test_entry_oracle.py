"""Mirror of the driver's correctness gate: run every SPARK_QUERIES
entry at sf0.01 and compare against its DuckDB oracle — row count,
column names, and order-insensitive values.

This is the pre-flight for CORRECTNESS_r{N}.json: same engines, same
data, same comparison — including the driver canonicalizer's pandas
``sort_values`` step, which REJECTS unhashable cells (list/array
columns): a query that would crash the driver's canon crashes here
too, instead of being masked by a str()-based normalization.
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from ocr_spark.queries import SPARK_QUERIES
from ocr_spark.sources.io import TESTDATA_TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

# materializes the pure-Python oracle parquet fixtures as a side effect
# (exactly what the driver's oracle_sql() call does)
ORACLE_SQL = entry_mod.oracle_sql()

if SF_DIR.rstrip("/") != "/root/testdata/sf0.01":
    # re-target the sf-dependent pipeline oracles at the requested
    # tier (e.g. SPARK_GRAFT_ORACLE_SF_DIR=/root/testdata/sf0.1 for a
    # 10×-scale re-verification of the same parity)
    from ocr_spark.oracle_fixtures import ensure_oracle_fixtures
    from ocr_spark.queries import _sf_of, pipeline_oracle_overrides

    _sf = _sf_of(SF_DIR)
    ensure_oracle_fixtures(_sf, SF_DIR)
    ORACLE_SQL = {**ORACLE_SQL, **pipeline_oracle_overrides(_sf, SF_DIR)}


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _normalize(rows, cols):
    """Sort columns by name, normalize values, sort rows — the
    order-insensitive comparison shape. The explicit per-column
    factorize replicates the driver canonicalizer's strictness:
    unhashable cells (list/array columns) raise TypeError. (A bare
    sort_values would only factorize on MULTI-key sorts — a one-column
    result with list cells could slip through it.)"""
    order = sorted(cols)
    frame = pd.DataFrame(list(rows), columns=list(cols))[order]
    for c in order:
        pd.factorize(frame[c])  # raises on unhashable cells
    frame.sort_values(order)

    idx = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return f"{v:.9g}"
        if v is None:
            return "\0NULL"
        return str(v)

    return sorted(tuple(norm(r[i]) for i in idx) for r in rows)


@pytest.mark.parametrize("name", sorted(ORACLE_SQL))
def test_query_matches_oracle(spark, duck, name):
    q = SPARK_QUERIES[name]
    sdf = q(spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    rel = duck.sql(ORACLE_SQL[name])
    duck_cols = rel.columns
    duck_rows = rel.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    a = _normalize(spark_rows, spark_cols)
    b = _normalize(duck_rows, duck_cols)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diff}")


# the registry queries that read events.ts or orders.o_orderdate
# (TIMESTAMP_NTZ in the testdata)
_TIMESTAMP_QUERIES = (
    "q3_top_orders",
    "latest_event",
    "events_per_day",
    "orders_by_month",
    "sessionize_events",
    "clicks_before_purchase",
    "funnel_conversion",
    "rolling_user_value",
    "asof_last_purchase",
)


_TZ = "spark.sql.session.timeZone"


@pytest.fixture
def los_angeles(spark):
    """The shared session set to America/Los_Angeles (a zone with DST)
    for one test, then set back."""
    old = spark.conf.get(_TZ)
    spark.conf.set(_TZ, "America/Los_Angeles")
    yield spark
    spark.conf.set(_TZ, old)


def test_timestamp_queries_ignore_session_zone(los_angeles, duck):
    """Under a non-UTC session every query over a TIMESTAMP_NTZ column
    still returns its oracle's rows, and leaves the session's zone as
    it found it."""
    for name in _TIMESTAMP_QUERIES:
        sdf = SPARK_QUERIES[name](los_angeles, SF_DIR)
        rel = duck.sql(ORACLE_SQL[name])
        got = _normalize([tuple(r) for r in sdf.collect()], sdf.columns)
        assert got == _normalize(rel.fetchall(), rel.columns), name
        assert los_angeles.conf.get(_TZ) == "America/Los_Angeles", name


def test_ntz_helpers_are_zone_free_in_a_dst_gap(los_angeles):
    """2026-03-08 02:30:00 does not exist in Los Angeles (clocks jump
    from 02:00 to 03:00); the helpers still give its UTC epoch and its
    own text."""
    import datetime as dt

    from pyspark.sql import functions as F

    from ocr_spark.operators.relational import _epoch_us, _ts_text

    gap = los_angeles.sql("SELECT TIMESTAMP_NTZ'2026-03-08 02:30:00' AS ts")
    ts = F.col("ts")
    row = gap.select(_epoch_us(ts), _ts_text(ts, 19), _ts_text(ts, 10), _ts_text(ts, 7)).first()
    utc = dt.datetime(2026, 3, 8, 2, 30, tzinfo=dt.timezone.utc)
    assert tuple(row) == (
        int(utc.timestamp()) * 1_000_000,
        "2026-03-08 02:30:00",
        "2026-03-08",
        "2026-03",
    )


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert "extracted_text" in df.columns


def test_rows_only_queries_run():
    """No rows-only query remains: every registered query has an
    oracle, so a Spark-only key fails here."""
    assert set(SPARK_QUERIES) == set(ORACLE_SQL)
    assert len(SPARK_QUERIES) == 99
