"""Round-5 ADVICE fixes, pinned.

1. skew_report surfaces a NULL key as 'null=count', an entry no
   string key's 'key:count' can equal — in parity with the DuckDB
   oracle shape (Spark↔DuckDB NULL ordering and concat-drop semantics
   would otherwise diverge).
2. conv_dedup coalesces NULL turn text to '' on both engines (NULL
   text ≡ empty turn; all-NULL conversations group, not NULL-fp).
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F


# ------------------------------------------------------------------
# 1. skew_report NULL-key entry (Spark ↔ DuckDB parity)
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
    # NULL surfaces as its own entry, counted, and first (hottest)
    assert got["top_keys"] == "null=7,a:3,b:3"

    # DuckDB twin of the oracle shape on the same data
    p = str(tmp_path / "skew.parquet")
    df.coalesce(1).write.parquet(p)
    oracle = duckdb.sql(
        f"""
WITH c AS (SELECT k, count(*) AS c FROM read_parquet('{p}/*.parquet') GROUP BY 1),
top AS (SELECT CAST(k AS VARCHAR) AS ks, c FROM c
        ORDER BY c DESC, CAST(k AS VARCHAR) ASC NULLS FIRST LIMIT 3)
SELECT string_agg(CASE WHEN ks IS NULL THEN 'null=' || CAST(c AS VARCHAR)
                       ELSE ks || ':' || CAST(c AS VARCHAR) END, ','
                  ORDER BY c DESC, ks ASC NULLS FIRST)
FROM top
"""
    ).fetchone()[0]
    assert oracle == got["top_keys"]


def test_skew_report_null_key_unlike_any_string_key(spark, tmp_path):
    """A NULL key and the string keys '<null>' and 'null' print as
    three different entries, ordered and rendered as the registry's
    DuckDB oracle renders the same rows."""
    from ocr_spark.operators.relational import skew_report
    from ocr_spark.queries import ORACLE_SQL

    rows = [(None,)] * 4 + [("<null>",)] * 4 + [("null",)] * 2 + [("a",)]
    df = spark.createDataFrame(rows, "user_id string")
    got = skew_report(df, "user_id", top_n=5).collect()[0]["top_keys"]
    assert got == "null=4,<null>:4,null:2,a:1"

    p = str(tmp_path / "events.parquet")
    df.coalesce(1).write.parquet(p)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{p}/*.parquet')")
    assert con.sql(ORACLE_SQL["skew_report"]).fetchone()[-1] == got


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
