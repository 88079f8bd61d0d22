"""Round-5 ADVICE fixes, pinned.

1. skew_report surfaces NULL keys under the '<null>' sentinel — in
   parity with the DuckDB oracle shape (Spark↔DuckDB NULL ordering
   and concat-drop semantics would otherwise diverge).
2. conv_dedup coalesces NULL turn text to '' on both engines (NULL
   text ≡ empty turn; all-NULL conversations group, not NULL-fp).
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F


# ------------------------------------------------------------------
# 1. skew_report NULL-key sentinel (Spark ↔ DuckDB parity)
# ------------------------------------------------------------------


def test_skew_report_null_key_parity(spark, tmp_path):
    from ocr_spark.operators.relational import skew_report

    # NULL is the HOT key — exactly the case the diagnostic must show
    rows = [(None,)] * 7 + [("a",)] * 3 + [("b",)] * 3 + [("c",)] * 1
    df = spark.createDataFrame(rows, "k string")
    got = skew_report(df, "k", top_n=3).collect()[0]
    assert got["n_rows"] == 14
    assert got["n_keys"] == 4
    assert got["max_count"] == 7
    # NULL surfaces as the sentinel, counted, and first (hottest)
    assert got["top_keys"] == "<null>:7,a:3,b:3"

    # DuckDB twin of the oracle shape on the same data
    p = str(tmp_path / "skew.parquet")
    df.coalesce(1).write.parquet(p)
    oracle = duckdb.sql(
        f"""
WITH c AS (SELECT k, count(*) AS c FROM read_parquet('{p}/*.parquet') GROUP BY 1),
top AS (SELECT coalesce(CAST(k AS VARCHAR), '<null>') AS ks, c FROM c
        ORDER BY c DESC, coalesce(CAST(k AS VARCHAR), '<null>') ASC LIMIT 3)
SELECT string_agg(ks || ':' || CAST(c AS VARCHAR), ',' ORDER BY c DESC, ks ASC)
FROM top
"""
    ).fetchone()[0]
    assert oracle == got["top_keys"]


# ------------------------------------------------------------------
# 2. conv_dedup NULL-text contract (Spark ↔ DuckDB parity)
# ------------------------------------------------------------------


def test_conv_dedup_null_text_parity(spark, tmp_path):
    from ocr_spark.operators.conversation import conv_dedup
    from ocr_spark.queries import _conv_dedup_sql

    ts = "2026-01-01 00:00:00"
    rows = [
        # all-NULL-text conv + its all-empty twin: must share one fp
        ("c_null", 0, "user", None, None, ts),
        ("c_null", 1, "assistant", None, None, ts),
        ("c_empty", 0, "user", "", None, ts),
        ("c_empty", 1, "assistant", "", None, ts),
        # mixed NULL mid-conversation
        ("c_mixed", 0, "user", "hello", None, ts),
        ("c_mixed", 1, "assistant", None, None, ts),
        ("c_mixed", 2, "user", "bye", None, ts),
        # distinct conv — must NOT collide with c_mixed
        ("c_other", 0, "user", "hello", None, ts),
        ("c_other", 1, "assistant", "x", None, ts),
        ("c_other", 2, "user", "bye", None, ts),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {r["conv_id"]: r for r in conv_dedup(df).collect()}

    # NULL ≡ '' pins the group; fps are non-NULL everywhere
    assert got["c_null"]["conv_fp"] == got["c_empty"]["conv_fp"]
    assert got["c_null"]["n_dup_convs"] == 2
    assert got["c_null"]["is_keeper"] is False  # c_empty < c_null
    assert all(r["conv_fp"] is not None for r in got.values())
    assert got["c_mixed"]["conv_fp"] != got["c_other"]["conv_fp"]

    p = str(tmp_path / "convs.parquet")
    df.coalesce(1).write.parquet(p)
    oracle = duckdb.sql(
        _conv_dedup_sql(p + "/*.parquet")
    ).fetchall()
    ora = {r[0]: r for r in oracle}
    for cid, row in got.items():
        assert ora[cid][1] == row["conv_fp"], cid
        assert ora[cid][3] == row["n_dup_convs"], cid
