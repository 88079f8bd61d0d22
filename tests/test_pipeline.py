"""Distributed pipeline correctness: the north-rule gate.

Spark output must equal the single-process oracle per turn — exact
``extracted_text`` + spans equality under stable sort
``(conv_id, turn_idx)`` — regardless of partitioning, salting, batch
size, or resume path.
"""

from __future__ import annotations

import glob
import os

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ocr_spark.core.extract import extract_turn
from ocr_spark.fixtures import gen_transcripts
from ocr_spark.job import (
    extract_transcripts,
    read_manifest,
    run_extraction,
    with_skew_salt,
)
from ocr_spark.schema import MANIFEST_SCHEMA


def _oracle_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """Single-process reference oracle output, stable-sorted."""
    rows = []
    for r in pdf.itertuples(index=False):
        e = extract_turn(r.text)
        rows.append(
            (
                r.conv_id,
                r.turn_idx,
                e.kind,
                e.extracted_text,
                [(s, en) for s, en in e.spans],
                e.blocks_kept,
                e.blocks_dropped,
                e.bytes_in,
                e.bytes_out,
            )
        )
    out = pd.DataFrame(
        rows,
        columns=[
            "conv_id", "turn_idx", "kind", "extracted_text", "spans",
            "blocks_kept", "blocks_dropped", "bytes_in", "bytes_out",
        ],
    )
    return out.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def _collect_sorted(df) -> pd.DataFrame:
    pdf = df.toPandas()
    pdf["spans"] = pdf["spans"].apply(
        lambda arr: [(int(x["start"]), int(x["end"])) for x in arr]
    )
    pdf = pdf[
        ["conv_id", "turn_idx", "kind", "extracted_text", "spans",
         "blocks_kept", "blocks_dropped", "bytes_in", "bytes_out"]
    ]
    for c in ("turn_idx", "blocks_kept", "blocks_dropped"):
        pdf[c] = pdf[c].astype("int64")
    return pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def _assert_equal(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame):
    oracle_pdf = oracle_pdf.copy()
    for c in ("turn_idx", "blocks_kept", "blocks_dropped"):
        oracle_pdf[c] = oracle_pdf[c].astype("int64")
    pd.testing.assert_frame_equal(spark_pdf, oracle_pdf, check_dtype=False)


@pytest.fixture(scope="module")
def fixture_pdf():
    return gen_transcripts(0.001)


@pytest.fixture(scope="module")
def oracle(fixture_pdf):
    return _oracle_frame(fixture_pdf)


def test_declarative_extraction_equals_oracle(spark, transcripts_path, oracle):
    df = spark.read.parquet(transcripts_path)
    got = _collect_sorted(extract_transcripts(df))
    _assert_equal(got, oracle)


def test_equality_invariant_to_partitioning(spark, transcripts_path, oracle):
    """Repartitioning/salting/batch size must not leak into results."""
    df = spark.read.parquet(transcripts_path)
    for arrange in (
        lambda d: d.repartition(37),
        lambda d: d.repartition(3, "conv_id"),
        lambda d: d.orderBy(F.desc("turn_idx")),
        lambda d: with_skew_salt(d, threshold=20).repartition(
            16, "conv_id", "salt"
        ),
    ):
        got = _collect_sorted(
            extract_transcripts(arrange(df)).select(
                "conv_id", "turn_idx", "kind", "extracted_text", "spans",
                "blocks_kept", "blocks_dropped", "bytes_in", "bytes_out",
            )
        )
        _assert_equal(got, oracle)


def test_small_arrow_batches(spark, transcripts_path, oracle):
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        df = spark.read.parquet(transcripts_path)
        got = _collect_sorted(extract_transcripts(df))
        _assert_equal(got, oracle)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_skew_salt_splits_heavy_conversation(spark, transcripts_path):
    """Turn-position chunks: heavy conversations spread over several
    salts, no (conv_id, salt) key holds more than ``threshold`` turns,
    and conversations of at most ``threshold`` turns keep salt 0."""
    df = spark.read.parquet(transcripts_path)
    salted = with_skew_salt(df, threshold=20)
    per_key = salted.groupBy("conv_id", "salt").count()
    assert per_key.agg(F.max("count")).first()[0] <= 20
    per_conv = {
        r["conv_id"]: (r["n_turns"], r["salts"])
        for r in per_key.groupBy("conv_id")
        .agg(
            F.sum("count").alias("n_turns"),
            F.sort_array(F.collect_list("salt")).alias("salts"),
        )
        .collect()
    }
    heavy_turns, heavy_salts = max(per_conv.values())
    assert heavy_turns > 20 and len(heavy_salts) > 1
    assert all(salts == [0] for n, salts in per_conv.values() if n <= 20)
    # floor division: negative positions chunk at the same bound
    neg = spark.range(-45, 45).selectExpr("'c' AS conv_id", "CAST(id AS INT) AS turn_idx")
    neg_keys = with_skew_salt(neg, threshold=20).groupBy("salt").count().collect()
    assert sorted((r["salt"], r["count"]) for r in neg_keys) == [
        (-3, 5), (-2, 20), (-1, 20), (0, 20), (1, 20), (2, 5)
    ]


def test_job_end_to_end_with_manifest(spark, transcripts_path, oracle, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    summary = run_extraction(
        spark, transcripts_path, out, checkpoint_dir=ckpt,
        n_shards=3, num_partitions=8, salt_threshold=20,
    )
    assert summary["shards_run"] == [0, 1, 2]
    got = _collect_sorted(spark.read.parquet(out).drop("shard"))
    _assert_equal(got, oracle)
    mschema = pq.read_schema(glob.glob(f"{out}/_manifest/shard=0/*.parquet")[0])
    assert [(f.name, str(f.type)) for f in mschema] == list(
        zip(MANIFEST_SCHEMA.fieldNames(), ["int32"] * 3 + ["int64"] * 7 + ["string"])
    )
    m = read_manifest(spark, out).toPandas()
    # P=8 is the run's total: each of the 3 shard jobs gets ceil(8/3) tasks
    assert m.groupby("shard")["partition_id"].nunique().to_dict() == {0: 3, 1: 3, 2: 3}
    assert m["n_turns"].sum() == len(oracle)
    assert (m["status"] == "ok").all()
    assert m["bytes_in"].sum() == oracle["bytes_in"].sum()
    assert m["blocks_kept"].sum() == oracle["blocks_kept"].sum()
    # n_convs counts each task's distinct conversations; a task's rows
    # are its own part file, named by its partition id
    for r in m.itertuples():
        files = glob.glob(f"{out}/shard={r.shard}/part-{r.partition_id:05d}-*.parquet")
        convs = pd.concat([pd.read_parquet(f, columns=["conv_id"]) for f in files])
        assert r.n_convs == convs["conv_id"].nunique()
    assert (m["n_turns"] > m["n_convs"]).all()  # every task repeats conversations


def test_manifest_rows_leave_the_driver_after_each_run(spark, transcripts_path, tmp_path):
    """pyspark keeps every accumulator in a module registry for the
    SparkContext's life; a finished run must not leave its manifest
    rows there, or driver memory grows with every run."""
    from pyspark.accumulators import _accumulatorRegistry

    for run in range(2):
        run_extraction(
            spark, transcripts_path, str(tmp_path / f"out{run}"),
            n_shards=4, num_partitions=8,
        )
        held = sum(
            len(a._value) for a in _accumulatorRegistry.values()
            if isinstance(a._value, list)
        )
        assert held == 0, f"run {run}: {held} manifest rows still on the driver"


def test_resume_after_crash_no_duplicates(spark, transcripts_path, oracle, tmp_path):
    import shutil

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    run_extraction(
        spark, transcripts_path, out, checkpoint_dir=ckpt,
        n_shards=3, num_partitions=8,
    )
    # the state a crash after shard 1's commit leaves behind:
    # shard 0 marked done; shard 1 written but unmarked; shard 2 missing
    os.remove(os.path.join(ckpt, "shard-00001.done"))
    os.remove(os.path.join(ckpt, "shard-00002.done"))
    shutil.rmtree(os.path.join(out, "shard=2"))
    shutil.rmtree(os.path.join(out, "_manifest", "shard=2"))
    summary = run_extraction(
        spark, transcripts_path, out, checkpoint_dir=ckpt,
        n_shards=3, num_partitions=8,
    )
    assert summary["shards_skipped"] == [0]
    assert summary["shards_run"] == [1, 2]
    got = _collect_sorted(spark.read.parquet(out).drop("shard"))
    assert not got.duplicated(["conv_id", "turn_idx"]).any()
    _assert_equal(got, oracle)
    # shard 1's redo replaced its manifest rather than appending to it
    raw = read_manifest(spark, out, dedupe=False).toPandas()
    assert raw.groupby("shard").size().to_dict() == {0: 3, 1: 3, 2: 3}
    assert raw.groupby("shard")["partition_id"].nunique().to_dict() == {0: 3, 1: 3, 2: 3}


def test_resume_after_failed_shard_write(spark, transcripts_path, oracle, tmp_path):
    """A real write failure, not a hand-built crash state: shard 1's manifest
    path is a regular file, so that shard's manifest write raises."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    blocker = os.path.join(out, "_manifest", "shard=1")
    os.makedirs(os.path.dirname(blocker))
    open(blocker, "w").close()
    with pytest.raises(OSError):
        run_extraction(
            spark, transcripts_path, out, checkpoint_dir=ckpt,
            n_shards=3, num_partitions=8,
        )
    # markers are written as shards commit: shard 0 was in flight with
    # shard 1 and finishes; shard 2 may have started and committed
    # before shard 1 failed, but no shard starts after the failure
    markers = sorted(os.listdir(ckpt))
    assert "shard-00000.done" in markers
    assert "shard-00001.done" not in markers
    marked = [int(m[len("shard-"):-len(".done")]) for m in markers]
    assert set(marked) <= {0, 2}
    os.remove(blocker)
    summary = run_extraction(
        spark, transcripts_path, out, checkpoint_dir=ckpt,
        n_shards=3, num_partitions=8,
    )
    assert summary["shards_skipped"] == marked
    assert summary["shards_run"] == [s for s in range(3) if s not in marked]
    got = _collect_sorted(spark.read.parquet(out).drop("shard"))
    assert not got.duplicated(["conv_id", "turn_idx"]).any()
    _assert_equal(got, oracle)


def test_read_manifest_dedupe_keeps_ok_retry(spark, tmp_path):
    """A task that failed on attempt 0 and succeeded on attempt 1 leaves
    two raw rows; the deduped manifest keeps the ok one."""
    from ocr_spark.job import _write_manifest_local

    def row(shard, pid, attempt, n_turns, status):
        return {
            "shard": shard, "partition_id": pid, "attempt": attempt,
            "n_turns": n_turns, "n_convs": 1, "blocks_kept": 0,
            "blocks_dropped": 0, "bytes_in": 0, "bytes_out": 0,
            "wall_ms": 1, "status": status,
        }

    out = str(tmp_path / "out")
    _write_manifest_local(
        [row(0, 0, 0, 5, "ok"), row(0, 1, 0, 2, "failed:OSError"), row(0, 1, 1, 7, "ok")],
        os.path.join(out, "_manifest", "shard=0"),
    )
    _write_manifest_local(
        [row(1, 0, 0, 4, "ok"), row(1, 1, 0, 6, "ok")],
        os.path.join(out, "_manifest", "shard=1"),
    )
    assert read_manifest(spark, out, dedupe=False).count() == 5
    kept = sorted(
        (r["shard"], r["partition_id"], r["attempt"], r["n_turns"], r["status"])
        for r in read_manifest(spark, out).collect()
    )
    assert kept == [
        (0, 0, 0, 5, "ok"), (0, 1, 1, 7, "ok"), (1, 0, 0, 4, "ok"), (1, 1, 0, 6, "ok")
    ]


def test_spark_submit_cli(transcripts_path, tmp_path):
    """The north rule's launch path: spark-submit --py-files zip."""
    import json
    import os
    import shutil
    import subprocess
    import sys
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__import__("ocr_spark").__file__))
    zip_path = str(tmp_path / "ocr_spark.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.join("ocr_spark", os.path.relpath(full, pkg_dir)))
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    submit = shutil.which("spark-submit") or os.path.join(
        os.environ.get("SPARK_HOME", "/opt/spark"), "bin", "spark-submit"
    )
    r = subprocess.run(
        [
            submit,
            "--master", "local[4]",
            "--py-files", zip_path,
            "--conf", "spark.ui.enabled=false",
            os.path.join(pkg_dir, "job.py"),
            "--input", transcripts_path,
            "--output", out,
            "--checkpoint", ckpt,
            "--shards", "2",
        ],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["shards_run"] == [0, 1]
    assert os.path.exists(os.path.join(ckpt, "shard-00000.done"))


def test_fields_batch_and_transaction_pivot(spark, transcripts_path):
    from ocr_spark.core.fields import FIELD_NAMES, extract_fields
    from ocr_spark.job import extract_transcripts
    from ocr_spark.operators.conversation import transaction_pivot
    from ocr_spark.schema import FIELDS_SCHEMA
    from ocr_spark.udfs import fields_batch, map_batches
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField, StructType

    ext = extract_transcripts(spark.read.parquet(transcripts_path)).filter(
        F.col("kind") == "pdf_like"
    )
    fdf = map_batches(
        ext.select(
            "conv_id", "turn_idx", "extracted_text",
            F.col("extracted_text").alias("source_text"),
        ),
        fields_batch,
        StructType(FIELDS_SCHEMA.fields + [StructField("source_text", StringType())]),
    )
    rows = fdf.limit(200).collect()
    assert rows
    for r in rows:  # stage ≡ pure function on every row
        expect = extract_fields(r["source_text"])
        assert tuple(r[n] for n in FIELD_NAMES) == tuple(expect)

    piv = transaction_pivot(fdf.drop("source_text"))
    got = {r["conv_id"]: r for r in piv.collect()}
    assert got
    # first-wins semantics check on one conversation via pandas
    import pandas as pd

    pdf = fdf.drop("source_text").toPandas()
    conv = pdf["conv_id"].iloc[0]
    sub = pdf[pdf["conv_id"] == conv].sort_values("turn_idx")
    first_vehicle = sub["vehicle_no"].dropna().iloc[0] if sub["vehicle_no"].notna().any() else None
    assert got[conv]["vehicle_no"] == first_vehicle
    assert got[conv]["n_docs"] == len(sub)


def test_transaction_pivot_weighbridge_slotting(spark):
    """A8 (download.jsx:205-239): first weighbridge → loading_*, second
    → unloading_*, third+ ignored; single weighbridge → loading only."""
    from ocr_spark.core.fields import FIELD_NAMES
    from ocr_spark.operators.conversation import transaction_pivot

    def row(conv, turn, cat, **kw):
        base = {k: None for k in FIELD_NAMES}
        base.update(category=cat, **kw)
        return {"conv_id": conv, "turn_idx": turn, **base}

    rows = [
        row("c1", 0, "Weighbridge", doc_date="2025-01-01", name="A Bridge",
            vehicle_no="MH01AB1111", net_weight="100"),
        row("c1", 1, "Tax Invoice", invoice_no="INV-1"),
        row("c1", 2, "Weighbridge", doc_date="2025-01-02", name="B Bridge",
            vehicle_no="MH02AB2222", net_weight="200"),
        row("c1", 3, "Weighbridge", doc_date="2025-01-03", net_weight="300"),
        row("c2", 0, "Weighbridge", doc_date="2025-02-01", net_weight="500"),
    ]
    schema = ", ".join(
        ["conv_id string", "turn_idx int"] + [f"{k} string" for k in FIELD_NAMES]
    )
    df = spark.createDataFrame(rows, schema=schema)
    got = {r["conv_id"]: r for r in transaction_pivot(df).collect()}

    c1 = got["c1"]
    assert c1["n_weighbridge"] == 3
    assert c1["loading_doc_date"] == "2025-01-01"
    assert c1["loading_name"] == "A Bridge"
    assert c1["loading_vehicle_no"] == "MH01AB1111"
    assert c1["loading_net_weight"] == "100"
    assert c1["unloading_doc_date"] == "2025-01-02"
    assert c1["unloading_net_weight"] == "200"  # third weighbridge ignored
    c2 = got["c2"]
    assert c2["loading_net_weight"] == "500"
    assert c2["unloading_doc_date"] is None
    # first-wins columns still behave: category = first in turn order
    assert c1["category"] == "Weighbridge"
    assert c1["invoice_no"] == "INV-1"


def test_duplicate_components_resolves_clusters(spark):
    """Min-label propagation: chains collapse to one component, the
    keeper is the min id, and singletons label themselves."""
    from ocr_spark.operators.dedup import duplicate_components

    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 5, 6, 7)], "doc_id long"
    )
    # a 3-chain (1-2, 2-3), a pair (5-6), and singleton 7
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: (r["component"], r["is_keeper"])
        for r in duplicate_components(docs, pairs).collect()
    }
    assert got == {
        1: (1, True), 2: (1, False), 3: (1, False),
        5: (5, True), 6: (5, False),
        7: (7, True),
    }


def test_range_join_binned_bin_boundaries(spark):
    """Hand-checked window semantics incl. bin-boundary straddles:
    [t-W, t) is inclusive-exclusive and candidates from BOTH bins
    survive the exact filter."""
    from pyspark.sql import functions as F
    from ocr_spark.operators.relational import range_join_binned

    W = 100
    left = spark.createDataFrame([(1, 10, 250)], ["event_id", "k", "t"])
    right = spark.createDataFrame(
        [(10, 150), (10, 151), (10, 249), (10, 250), (10, 90), (11, 200)],
        ["k", "t"],
    )
    j = range_join_binned(
        left, right.withColumnRenamed("t", "rt"), "k", "t", "rt", W
    )
    n = (
        j.groupBy("event_id")
        .agg(F.sum(F.when(F.col("_match"), 1).otherwise(0)).alias("n"))
        .collect()[0]["n"]
    )
    # matches: 150 (== t-W, inclusive), 151, 249; NOT 250 (== t,
    # exclusive), NOT 90 (too old), NOT other key
    assert n == 3


def test_rolling_user_value_hand_checked(spark):
    """Frame membership and exact cents arithmetic on a crafted
    stream: 6 events for one user, frame 5."""
    import datetime as dt

    from ocr_spark.operators import relational

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=i), 7, "click", float(i) + 0.25, "{}")
        for i in range(1, 7)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = {
        r.event_id: (r.roll_cents, r.n_in_window)
        for r in relational.rolling_user_value(df).collect()
    }
    # cents = 125,225,...,625; frame of 5 trailing rows
    assert out[1] == (125, 1)
    assert out[5] == (125 + 225 + 325 + 425 + 525, 5)
    assert out[6] == (225 + 325 + 425 + 525 + 625, 5)


def test_range_join_binned_narrow_bins(spark):
    """bin_us < window_us must widen the candidate fan-out: same
    result as the default binning on the same data."""
    from pyspark.sql import functions as F
    from ocr_spark.operators.relational import range_join_binned

    W = 100
    left = spark.createDataFrame(
        [(1, 10, 250), (2, 10, 995)], ["event_id", "k", "t"]
    )
    right = spark.createDataFrame(
        [(10, 150), (10, 249), (10, 250), (10, 905), (10, 994), (10, 895)],
        ["k", "rt"],
    )

    def count(bin_us):
        j = range_join_binned(left, right, "k", "t", "rt", W, bin_us=bin_us)
        return {
            r.event_id: r.n
            for r in j.groupBy("event_id")
            .agg(F.sum(F.when(F.col("_match"), 1).otherwise(0)).alias("n"))
            .collect()
        }

    # event 1 window [150,250): {150, 249}; event 2 [895,995): {905, 994, 895}
    expect = {1: 2, 2: 3}
    assert count(100) == expect
    assert count(30) == expect
    assert count(7) == expect


def test_duplicate_components_chain_converges_in_log_rounds(spark):
    """The large-star/small-star engine is diameter-independent: a
    64-node chain (diameter 63 — worst case for plain min-label
    propagation, which needs 63 rounds) must resolve to one component
    within O(log n) alternating rounds."""
    import pytest

    from ocr_spark.operators.dedup import duplicate_components

    n = 64
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: r["component"]
        for r in duplicate_components(docs, chain, max_iters=8).collect()
    }
    assert got == {i: 0 for i in range(n)}
    # and the bound is real: plain propagation could not do this in 8
    with pytest.raises(RuntimeError, match="converge"):
        duplicate_components(docs, chain, max_iters=1).collect()


def test_transcript_lint_constructed_violations(spark):
    """Every lint dimension fires on a purpose-built conversation and
    stays zero on a clean one."""
    from datetime import datetime, timedelta

    from ocr_spark.operators.conversation import transcript_lint

    t0 = datetime(2026, 1, 1, 9, 0, 0)
    rows = [
        # clean conv: contiguous idx, increasing ts, alternating roles
        ("ok", 0, "user", "hi", None, t0),
        ("ok", 1, "assistant", "hello", None, t0 + timedelta(seconds=10)),
        # broken conv: dup idx 1, ts regression, user,user repeat,
        # toolless tool turn, empty text, idx gap (no 2)
        ("bad", 0, "user", "a", None, t0),
        ("bad", 1, "user", "b", None, t0 - timedelta(seconds=5)),
        ("bad", 1, "tool", " ", None, t0 + timedelta(seconds=1)),
        ("bad", 3, "assistant", "c", None, t0 + timedelta(seconds=2)),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    got = {r["conv_id"]: r.asDict() for r in transcript_lint(df).collect()}
    ok, bad = got["ok"], got["bad"]
    assert (ok["n_turns"], ok["dup_idx"], ok["idx_contiguous"]) == (2, 0, True)
    assert (ok["ts_regressions"], ok["role_repeats"], ok["tool_missing"], ok["empty_turns"]) == (0, 0, 0, 0)
    assert bad["n_turns"] == 4 and bad["dup_idx"] == 1
    assert bad["idx_contiguous"] is False
    # ordering (turn_idx, ts, role, text): idx-1 rows order user@-5s
    # then tool@+1s → regressions: t0→t0-5s (1); repeats: user,user (1)
    assert bad["ts_regressions"] == 1 and bad["role_repeats"] == 1
    assert bad["tool_missing"] == 1 and bad["empty_turns"] == 1


def test_conv_dedup_finds_duplicate_conversations(spark):
    """Two conversations with identical ordered turn texts share a
    fingerprint (keeper = min conv_id); the separator keeps shifted
    turn boundaries distinct."""
    from datetime import datetime

    from ocr_spark.operators.conversation import conv_dedup

    t0 = datetime(2026, 1, 1)
    rows = [
        ("a", 0, "user", "foo", None, t0), ("a", 1, "assistant", "bar", None, t0),
        ("b", 0, "user", "foo", None, t0), ("b", 1, "assistant", "bar", None, t0),
        # same chars, different turn split: "fo"+"obar" != "foo"+"bar"
        ("c", 0, "user", "fo", None, t0), ("c", 1, "assistant", "obar", None, t0),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    got = {r["conv_id"]: (r["n_dup_convs"], r["is_keeper"]) for r in conv_dedup(df).collect()}
    assert got == {"a": (2, True), "b": (2, False), "c": (1, True)}


_RETRY_DRIVER = '''
import os
import sys

from pyspark.sql import SparkSession

from ocr_spark import job

marker, input_path, clean_out, flaky_out = sys.argv[1:5]
real_extract_rows = job.extract_rows


def extract_rows_failing_once(pdf):
    """The first call anywhere (O_EXCL marker) raises; every later
    call, the retry included, extracts as usual."""
    try:
        fd = os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        return real_extract_rows(pdf)
    os.close(fd)
    raise RuntimeError("injected task failure")


spark = SparkSession.builder.getOrCreate()
job.run_extraction(spark, input_path, clean_out, num_partitions=4)
job.extract_rows = extract_rows_failing_once
job.run_extraction(spark, input_path, flaky_out, num_partitions=4)
spark.stop()
'''


def test_task_retry_after_injected_failure(spark, transcripts_path, oracle, tmp_path):
    """A task that fails once is retried (local[4,2]: two attempts per
    task): the output still equals the oracle, the manifest holds the
    retry's row, and its sums equal a clean run's."""
    import shutil
    import subprocess

    driver = tmp_path / "retry_driver.py"
    driver.write_text(_RETRY_DRIVER)
    marker = str(tmp_path / "failed-once")
    clean_out, flaky_out = str(tmp_path / "clean"), str(tmp_path / "flaky")
    submit = shutil.which("spark-submit") or os.path.join(
        os.environ.get("SPARK_HOME", "/opt/spark"), "bin", "spark-submit"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__import__("ocr_spark").__file__)))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")])))
    r = subprocess.run(
        [
            submit, "--master", "local[4,2]", "--conf", "spark.ui.enabled=false",
            str(driver), marker, transcripts_path, clean_out, flaky_out,
        ],
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert os.path.exists(marker)  # the injected failure really fired

    got = _collect_sorted(spark.read.parquet(flaky_out).drop("shard"))
    _assert_equal(got, oracle)

    # the retried partition shows attempt 1 and no failed row: pyspark's
    # worker sends a task's accumulator updates only when the task
    # succeeds, so the failed attempt's manifest row never reaches the
    # driver
    raw = read_manifest(spark, flaky_out, dedupe=False).toPandas()
    assert (raw["status"] == "ok").all()
    assert not raw.duplicated(["shard", "partition_id"]).any()
    assert sorted(raw["attempt"]) == [0] * (len(raw) - 1) + [1]

    sums = ["n_turns", "n_convs", "blocks_kept", "blocks_dropped", "bytes_in", "bytes_out"]
    flaky = read_manifest(spark, flaky_out).toPandas()
    clean = read_manifest(spark, clean_out).toPandas()
    assert (flaky["status"] == "ok").all()
    assert flaky[sums].sum().to_dict() == clean[sums].sum().to_dict()
