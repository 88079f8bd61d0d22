"""Distributed orchestration: partitioning, skew salting, lineage,
checkpoint-resume (SURVEY.md §3.4, north_rule).

Design for the 10^12-turn target:

- **One shuffle.** The only exchange is the explicit
  ``repartition(P, conv_id, salt)``; extraction itself is a pipelined
  map stage (mapInPandas), and the output write is shuffle-free.
- **Skew salting.** Conversation sizes are Zipf-ish (FIXTURES.md): a
  single conversation can be 10^6 turns. The salt is the turn's chunk
  within its conversation, ``floor(turn_idx / threshold)`` — a plain
  projection, no pre-pass. A conversation of up to ``threshold`` turns
  keeps salt 0 and stays co-located; a longer one is cut into chunks
  of consecutive turns, and because ``(conv_id, turn_idx)`` is unique
  no ``(conv_id, salt)`` key ever holds more than ``threshold`` turns.
  Extraction is per-turn stateless, so salting is always safe.
- **Checkpoint-resume.** Work is split into ``n_shards`` bucket-groups
  by ``pmod(xxhash64(conv_id), n_shards)``; the run's P tasks are
  shared out, ``ceil(P / n_shards)`` per shard job. Pending shards
  run as concurrent Spark jobs, just enough of them to fill the
  default parallelism with tasks (a Python task has a fixed start-up
  cost, so task count, not turn count, sets a small shard's cost).
  Each shard writes its output + lineage manifest, then an atomic
  ``.done`` marker, in shard order; a re-run skips marked shards and
  overwrites (idempotent) any half-written shard directory — strictly
  stronger than the reference's lose-on-disconnect queue (``OCR API
  2/api.py:167-178``). On a real cluster the markers live on the
  shared FS next to the Iceberg table; with Iceberg the per-shard
  write is a snapshot commit.
- **Per-partition lineage + metrics** (``MANIFEST_SCHEMA``): each task
  reports turns, convs, blocks kept/dropped, bytes in/out, wall_ms
  via an accumulator — one tiny dict per task on the driver.

The reference's whole "queue" lifecycle (``OCR API 2/api.py:48,
141-178``) maps to: a shard is the queue, the marker is its completion
event, the manifest rows are its per-job status events (S5/S6).
"""

from __future__ import annotations

import logging
import os
import tempfile
import time
import uuid
import zipfile
from collections import deque
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
from pyspark import TaskContext
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

if __package__ in (None, ""):
    # executed by path (`python ocr_spark/job.py` / spark-submit's
    # driver script): the script's own dir lands on sys.path, not the
    # repo root — put the root first so the package imports resolve
    import sys as _sys

    _sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocr_spark.schema import MANIFEST_SCHEMA, OUTPUT_SCHEMA
from ocr_spark.sources.io import read_input, validate_input_schema, write_output
from ocr_spark.udfs import extract_batch, extract_udf

DEFAULT_SALT_THRESHOLD = 2000  # max turns per (conv_id, salt) shuffle key

log = logging.getLogger(__name__)


class _ListAccumulator(AccumulatorParam):
    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


def ensure_package_shipped(spark: SparkSession) -> None:
    """Ship the ``ocr_spark`` package to executors.

    Equivalent of ``spark-submit --py-files engine.zip`` (SURVEY.md
    §3.4) for sessions that weren't launched that way: zip the package
    once and ``addPyFile`` it so Python workers can unpickle the UDFs.
    No-op if already shipped on this SparkContext.
    """
    sc = spark.sparkContext
    if getattr(sc, "_ocr_spark_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    fd, zip_path = tempfile.mkstemp(prefix="ocr_spark_", suffix=".zip")
    os.close(fd)
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.join(
                        "ocr_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    sc.addPyFile(zip_path)
    sc._ocr_spark_shipped = True
    # Spark serves the zip through its file server from its own copy;
    # reclaim the staging file when the process exits
    import atexit

    atexit.register(lambda p=zip_path: os.path.exists(p) and os.unlink(p))


# --------------------------------------------------------------------------
# Declarative extraction (used by entry()/queries() and notebooks)
# --------------------------------------------------------------------------

def extract_transcripts(df: DataFrame) -> DataFrame:
    """transcripts → extraction output, as a single Catalyst-visible
    projection (column pruning reaches the scan: only conv_id,
    turn_idx, text are read)."""
    return df.select(
        "conv_id", "turn_idx", extract_udf(F.col("text")).alias("x")
    ).select("conv_id", "turn_idx", "x.*")


# --------------------------------------------------------------------------
# Skew salting
# --------------------------------------------------------------------------

def with_skew_salt(df: DataFrame, threshold: int = DEFAULT_SALT_THRESHOLD) -> DataFrame:
    """Add a ``salt`` column: the turn's chunk of at most ``threshold``
    consecutive turns within its conversation.

    Conversations of up to ``threshold`` turns keep salt 0 (turn_idx
    counts from 0), longer ones split into chunks. Floor division
    keeps the chunk bound for negative ``turn_idx`` too.
    """
    if threshold < 1:
        raise ValueError(f"salt threshold must be >= 1, got {threshold}")
    return df.withColumn(
        "salt", F.floor(F.col("turn_idx") / F.lit(threshold)).cast("int")
    )


# --------------------------------------------------------------------------
# The job
# --------------------------------------------------------------------------

def _make_runner(acc, shard: int):
    """mapInPandas runner: extract + accumulate per-task lineage."""

    def run(batches):
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        attempt = ctx.attemptNumber() if ctx is not None else 0
        t0 = time.monotonic()
        n_turns = 0
        convs: set[str] = set()
        kept = dropped = b_in = b_out = 0
        status = "ok"
        try:
            for pdf in batches:
                ext = extract_batch(pdf["text"])
                out = pd.concat(
                    [
                        pdf[["conv_id", "turn_idx"]].reset_index(drop=True),
                        ext.reset_index(drop=True),
                    ],
                    axis=1,
                )
                n_turns += len(out)
                convs.update(pdf["conv_id"])
                kept += int(ext["blocks_kept"].sum())
                dropped += int(ext["blocks_dropped"].sum())
                b_in += int(ext["bytes_in"].sum())
                b_out += int(ext["bytes_out"].sum())
                yield out
        except Exception as exc:  # record, then let Spark retry the task
            status = f"failed:{type(exc).__name__}"
            raise
        finally:
            acc.add(
                [
                    {
                        "shard": shard,
                        "partition_id": pid,
                        "attempt": attempt,
                        "n_turns": n_turns,
                        "n_convs": len(convs),
                        "blocks_kept": kept,
                        "blocks_dropped": dropped,
                        "bytes_in": b_in,
                        "bytes_out": b_out,
                        "wall_ms": int((time.monotonic() - t0) * 1000),
                        "status": status,
                    }
                ]
            )

    return run


def _write_manifest_local(rows: list[dict], dest: str) -> None:
    """Manifest rows live on the driver (accumulator output, ≤1 tiny
    dict per task) — write them with pyarrow directly instead of
    spending a Spark job on ~128 rows. Layout matches write_output
    (parquet dir), so read_manifest is unchanged. On a real cluster
    with an object-store destination this stays a driver-side put."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    os.makedirs(dest, exist_ok=True)
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(MANIFEST_SCHEMA))
    pq.write_table(table, os.path.join(dest, "part-0.parquet"))


def _marker_path(checkpoint_dir: str, shard: int) -> str:
    return os.path.join(checkpoint_dir, f"shard-{shard:05d}.done")


def run_extraction(
    spark: SparkSession,
    input_source: str,
    output_dir: str,
    checkpoint_dir: str | None = None,
    n_shards: int = 1,
    num_partitions: int | None = None,
    salt_threshold: int = DEFAULT_SALT_THRESHOLD,
) -> dict:
    """Run the full extraction job; returns a small summary dict.

    ``num_partitions`` (P, default twice the default parallelism) is
    the run's total task count: each of the ``n_shards`` shard jobs
    repartitions into ``ceil(P / n_shards)`` tasks. Pending shards run
    as concurrent Spark jobs, as many at once as it takes to fill the
    default parallelism with tasks. Shard k's ``.done`` marker is
    written only after its output and manifest are committed and
    every pending shard below k is marked. If a shard fails, shards
    already running finish, none starts, and the error is re-raised:
    a resume redoes the first unmarked shard and those after it.

    Output layout: ``output_dir/shard=K/*.parquet`` (+ the lineage
    manifest under ``output_dir/_manifest/shard=K`` — underscore
    prefix keeps it out of downstream reads of ``output_dir``).
    """
    ensure_package_shipped(spark)
    if checkpoint_dir:
        os.makedirs(checkpoint_dir, exist_ok=True)
    parallelism = spark.sparkContext.defaultParallelism
    if num_partitions is None:
        num_partitions = parallelism * 2
    if n_shards < 1 or num_partitions < 1:
        raise ValueError(
            f"n_shards and num_partitions must be >= 1, got {n_shards}, {num_partitions}"
        )
    per_shard = -(-num_partitions // n_shards)

    src = read_input(spark, input_source)
    validate_input_schema(
        src, {"conv_id": "string", "turn_idx": "int", "text": "string"}
    )
    src = src.select("conv_id", "turn_idx", "text")

    def run_shard(shard: int, acc) -> None:
        part = src
        if n_shards > 1:
            part = src.filter(
                F.pmod(F.xxhash64("conv_id"), F.lit(n_shards)) == shard
            )
        salted = with_skew_salt(part, salt_threshold)
        balanced = salted.repartition(per_shard, "conv_id", "salt")
        out = balanced.mapInPandas(_make_runner(acc, shard), OUTPUT_SCHEMA)
        write_output(out, os.path.join(output_dir, f"shard={shard}"))
        _write_manifest_local(
            list(acc.value), os.path.join(output_dir, "_manifest", f"shard={shard}")
        )

    done = [
        s for s in range(n_shards)
        if checkpoint_dir and os.path.exists(_marker_path(checkpoint_dir, s))
    ]
    pending = [s for s in range(n_shards) if s not in done]
    ran: list[int] = []
    # A shard starts only within `width` of the lowest unmarked one, so
    # a lost driver redoes at most `width` shards and at most `width`
    # shards' manifest rows sit in driver memory.
    width = max(1, min(len(pending), -(-parallelism // per_shard)))
    target = inheritable_thread_target(spark)(run_shard)
    todo = deque(pending)
    window: deque = deque()  # (shard, future), in shard order
    with ThreadPoolExecutor(max_workers=width) as pool:
        try:
            while window or todo:
                while todo and len(window) < width and not any(
                    f.done() and f.exception() is not None for _, f in window
                ):
                    shard = todo.popleft()
                    # accumulators are made here, in one thread: pyspark
                    # hands out accumulator ids without a lock
                    acc = spark.sparkContext.accumulator([], _ListAccumulator())
                    window.append((shard, pool.submit(target, shard, acc)))
                shard, fut = window.popleft()
                fut.result()
                ran.append(shard)
                if checkpoint_dir:
                    marker = _marker_path(checkpoint_dir, shard)
                    tmp = f"{marker}.{uuid.uuid4().hex}.tmp"
                    with open(tmp, "w") as f:
                        f.write("done\n")
                    os.replace(tmp, marker)  # atomic
        finally:
            # let in-flight shards finish (their output stays unmarked)
            # and read every future, so none of their errors is lost
            for _, f in window:
                try:
                    f.result()
                except Exception:
                    log.exception("shard job failed after an earlier failure")
    return {"shards_run": ran, "shards_skipped": done, "n_shards": n_shards}


def read_manifest(
    spark: SparkSession, output_dir: str, dedupe: bool = True
) -> DataFrame:
    """Lineage manifest. Accumulator updates from transformations are
    NOT deduped by Spark across task retries/speculation, so a
    transient failure leaves a partial 'failed:*' row next to the
    retry's 'ok' row. ``dedupe=True`` (default) keeps one row per
    (shard, partition_id) — preferring ok status, then the highest
    attempt — which restores sum-able metrics; ``dedupe=False``
    returns the raw attempt log (every row, for failure forensics)."""
    raw = spark.read.schema(MANIFEST_SCHEMA).parquet(
        os.path.join(output_dir, "_manifest")
    )
    if not dedupe:
        return raw
    from pyspark.sql import Window

    w = Window.partitionBy("shard", "partition_id").orderBy(
        F.when(F.col("status") == "ok", 0).otherwise(1).asc(),
        F.col("attempt").desc(),
    )
    return (
        raw.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _cli_main(argv: list[str] | None = None) -> None:
    """spark-submit entry point (SURVEY.md §3.4):

        spark-submit --py-files ocr_spark.zip ocr_spark/job.py \
            --input <tbl-or-path> --output <tbl-or-path> \
            --checkpoint <dir> [--shards N] [--partitions P]

    On a cluster the session comes from spark-submit's conf; running
    under plain `python` falls back to a local session.
    """
    import argparse
    import json

    from pyspark.sql import SparkSession

    ap = argparse.ArgumentParser(description="ocr_spark extraction job")
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--shards", type=int, default=1)
    ap.add_argument(
        "--partitions", type=int, default=None,
        help="total tasks for the run, shared out over the shards "
        "(default: twice the default parallelism)",
    )
    ap.add_argument("--salt-threshold", type=int, default=DEFAULT_SALT_THRESHOLD)
    args = ap.parse_args(argv)

    spark = SparkSession.builder.appName("ocr_spark-extract").getOrCreate()
    summary = run_extraction(
        spark,
        args.input,
        args.output,
        checkpoint_dir=args.checkpoint,
        n_shards=args.shards,
        num_partitions=args.partitions,
        salt_threshold=args.salt_threshold,
    )
    print(json.dumps(summary))


if __name__ == "__main__":
    _cli_main()
