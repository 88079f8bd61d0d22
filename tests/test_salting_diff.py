"""Salted-join mechanism and corpus snapshot diff (oracle parity is
covered by tests/test_entry_oracle.py like every driver query)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from ocr_spark.operators.corpus import snapshot_diff
from ocr_spark.operators.relational import salted_equijoin
from ocr_spark.plans.checks import physical_plan
from ocr_spark.sources.io import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_salted_join_equals_plain_join(spark):
    """Salting is a physical rewrite only: row-identical to the plain
    broadcast join at any salt count."""
    li = load_table(spark, SF_DIR, "lineitem")
    part = load_table(spark, SF_DIR, "part").select("p_partkey", "p_type")
    salted = salted_equijoin(li, part, "l_partkey", "p_partkey", "l_orderkey", n_salts=5)
    plain = li.join(
        F.broadcast(part.withColumnRenamed("p_partkey", "l_partkey")), "l_partkey"
    )
    a = sorted(map(tuple, salted.select("l_orderkey", "l_linenumber", "p_type").collect()))
    b = sorted(map(tuple, plain.select("l_orderkey", "l_linenumber", "p_type").collect()))
    assert a == b and len(a) == li.count()


def test_salted_join_plan_is_salted_shuffle_join(spark):
    """The plan proves the mechanism: a ShuffledHashJoin whose keys
    include the salt, fed by the dim-side replication (Generate)."""
    li = load_table(spark, SF_DIR, "lineitem")
    part = load_table(spark, SF_DIR, "part").select("p_partkey", "p_type")
    plan = physical_plan(salted_equijoin(li, part, "l_partkey", "p_partkey", "l_orderkey"))
    assert "ShuffledHashJoin" in plan
    assert re.search(r"Left keys \[2\]: \[l_partkey#\d+L?, _salt#\d+\]", plan)
    assert re.search(r"explode\(\[0,1,2,3,4,5,6,7\]\)", plan)
    assert "BroadcastHashJoin" not in plan


def test_salted_join_spreads_hot_key(spark):
    """A pathologically hot key really does split across salts: every
    salt value carries a share of the hot key's rows."""
    li = load_table(spark, SF_DIR, "lineitem").withColumn(
        "l_partkey", F.lit(1)
    )  # all rows hot on one key
    part = load_table(spark, SF_DIR, "part").select("p_partkey", "p_type")
    f = li.withColumn("_salt", (F.col("l_orderkey") % 8).cast("int"))
    counts = f.groupBy("_salt").count().collect()
    assert len(counts) == 8
    total = sum(r["count"] for r in counts)
    assert all(r["count"] > total / 32 for r in counts)  # no empty/starved salt


def test_snapshot_diff_statuses_exact(spark):
    """Brute-force the expected per-source counts from the same
    deterministic derivation the driver query uses."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text", "source")
    rows = docs.collect()
    did = F.col("doc_id")
    base = docs.filter(did % 11 != 0).withColumn(
        "text",
        F.when(did % 13 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))).otherwise(
            F.col("text")
        ),
    )
    added = docs.filter(did % 17 == 0).select(
        (did + 10000000).alias("doc_id"),
        F.concat(F.lit("added:"), F.col("text")).alias("text"),
        "source",
    )
    got = {
        r["source"]: (r["n_added"], r["n_removed"], r["n_changed"], r["n_unchanged"])
        for r in snapshot_diff(docs, base.unionByName(added)).collect()
    }
    want: dict[str, list[int]] = {}
    for r in rows:
        w = want.setdefault(r["source"], [0, 0, 0, 0])
        if r["doc_id"] % 17 == 0:
            w[0] += 1  # its re-id'd copy exists only in new
        if r["doc_id"] % 11 == 0:
            w[1] += 1
        elif r["doc_id"] % 13 == 0:
            w[2] += 1
        else:
            w[3] += 1
    assert got == {s: tuple(v) for s, v in want.items()}


def test_snapshot_diff_identical_snapshots(spark):
    """Diffing a snapshot against itself: everything unchanged."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text", "source")
    for r in snapshot_diff(docs, docs).collect():
        assert r["n_added"] == r["n_removed"] == r["n_changed"] == 0
        assert r["n_unchanged"] > 0


def test_salted_join_null_and_negative_spread_rows_survive(spark):
    """NULL and negative spread values must not drop fact rows: the
    salt is pmod (negatives land in [0, n_salts)) with NULL→0 — the
    ADVICE-flagged failure was Spark's sign-preserving % minting
    salts the dim side never carries."""
    fact = spark.createDataFrame(
        [(1, -7), (1, -1), (1, None), (2, 5), (2, None)],
        "k int, spread int",
    )
    dim = spark.createDataFrame([(1, "a"), (2, "b")], "dk int, v string")
    out = salted_equijoin(fact, dim, "k", "dk", "spread", n_salts=8)
    assert out.count() == 5  # every fact row met its dim row exactly once
    salts = {
        r[0]
        for r in fact.selectExpr(
            "coalesce(pmod(spread, 8), 0) AS s"
        ).distinct().collect()
    }
    assert all(0 <= s < 8 for s in salts)


def test_skew_report_constructed(spark):
    """Known skew: counts, key cardinality, max, and the serialized
    top list all exact."""
    from ocr_spark.operators.relational import skew_report

    rows = [("a",)] * 10 + [("b",)] + [("c",)]
    df = spark.createDataFrame(rows, "k string")
    got = skew_report(df, "k", top_n=2).collect()[0]
    assert (got["key_col"], got["n_rows"], got["n_keys"], got["max_count"]) == (
        "k", 12, 3, 10,
    )
    assert got["top_keys"] == "a:10,b:1"
