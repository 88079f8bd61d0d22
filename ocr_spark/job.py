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
  The next pending shard starts as soon as any shard finishes. Each
  shard writes its output + lineage manifest, then an atomic ``.done``
  marker as soon as it commits; a re-run skips marked shards and
  overwrites (idempotent) any half-written shard directory — strictly
  stronger than the reference's lose-on-disconnect queue (``OCR API
  2/api.py:167-178``). The output is a directory of parquet shards,
  written with Spark's own writer; on a real cluster it and the
  markers live on the shared FS (docs/SCALE.md §2 on a table sink).
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
import threading
import time
from collections import deque
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from pathlib import Path

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
from ocr_spark.sources.io import publish, read_input, validate_input_schema
from ocr_spark.udfs import (
    drop_dead_importers,
    ensure_package_shipped,
    extract_rows,
    map_batches,
)

DEFAULT_SALT_THRESHOLD = 2000  # max turns per (conv_id, salt) shuffle key

log = logging.getLogger(__name__)


class _ListAccumulator(AccumulatorParam):
    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


# --------------------------------------------------------------------------
# Declarative extraction (used by entry()/queries() and notebooks)
# --------------------------------------------------------------------------

def extract_transcripts(df: DataFrame) -> DataFrame:
    """transcripts → extraction output, one ``mapInPandas`` stage over
    a projection (column pruning reaches the scan: only conv_id,
    turn_idx, text are read)."""
    return map_batches(
        df.select("conv_id", "turn_idx", "text"), extract_rows, OUTPUT_SCHEMA
    )


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
    """mapInPandas runner: ``extract_rows`` per batch, plus the
    per-task lineage tap — the one Python stage that does not go
    through ``udfs.map_batches``, because it needs the whole task."""

    def run(batches):
        drop_dead_importers()
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        attempt = ctx.attemptNumber() if ctx is not None else 0
        t0 = time.monotonic()
        n_turns = 0
        convs: set[str] = set()
        kept = dropped = b_in = b_out = 0
        try:
            for pdf in batches:
                out = extract_rows(pdf)
                n_turns += len(out)
                convs.update(out["conv_id"].unique())
                kept += int(out["blocks_kept"].sum())
                dropped += int(out["blocks_dropped"].sum())
                b_in += int(out["bytes_in"].sum())
                b_out += int(out["bytes_out"].sum())
                yield out
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
                        # pyspark sends accumulator updates only for a
                        # task that succeeds: a row is always an ok one
                        "status": "ok",
                    }
                ]
            )

    return run


def _write_manifest_local(rows: list[dict], dest: str) -> None:
    """Manifest rows live on the driver (accumulator output, ≤1 tiny
    dict per task) — write them with pyarrow directly instead of
    spending a Spark job on ~128 rows. Layout matches a shard's output
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


def _run_shards(pending, width: int, run_one, mark) -> list[int]:
    """Run ``run_one(shard)`` for each pending shard, at most ``width``
    at a time, refilling a slot as soon as any shard finishes, and
    ``mark(shard)`` each one as it finishes. If a shard or its mark
    fails, those in flight finish (and are marked), none starts, and
    the first error is re-raised. Returns the shards run, sorted."""
    todo = deque(pending)
    running: dict = {}  # future -> shard
    ran: list[int] = []
    errors: list[BaseException] = []
    with ThreadPoolExecutor(max_workers=width) as pool:
        while running or (todo and not errors):
            while todo and not errors and len(running) < width:
                shard = todo.popleft()
                running[pool.submit(run_one, shard)] = shard
            finished, _ = wait(running, return_when=FIRST_COMPLETED)
            for fut in finished:
                shard = running.pop(fut)
                try:
                    fut.result()
                    mark(shard)
                except Exception as exc:  # drain the rest, then re-raise
                    errors.append(exc)
                    continue
                ran.append(shard)
    if errors:
        for err in errors[1:]:
            log.error("shard job failed after an earlier failure", exc_info=err)
        raise errors[0]
    return sorted(ran)


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
    as concurrent Spark jobs, at most ``width`` at once (enough to fill
    the default parallelism with tasks); the next starts as soon as any
    finishes. Shard k's ``.done`` marker is written as soon as its
    output and manifest are committed. If a shard fails, shards already
    running finish and are marked, none starts, and the error is
    re-raised: a resume redoes at most the ``width`` shards in flight.

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
    acc_lock = threading.Lock()

    def run_shard(shard: int) -> None:
        # pyspark hands out accumulator ids without a lock
        with acc_lock:
            acc = spark.sparkContext.accumulator([], _ListAccumulator())
        part = src
        if n_shards > 1:
            part = src.filter(
                F.pmod(F.xxhash64("conv_id"), F.lit(n_shards)) == shard
            )
        salted = with_skew_salt(part, salt_threshold)
        balanced = salted.repartition(per_shard, "conv_id", "salt").drop("salt")
        out = balanced.mapInPandas(_make_runner(acc, shard), OUTPUT_SCHEMA)
        try:
            out.write.mode("overwrite").parquet(os.path.join(output_dir, f"shard={shard}"))
            _write_manifest_local(
                list(acc.value), os.path.join(output_dir, "_manifest", f"shard={shard}")
            )
        finally:
            # pyspark never unregisters an accumulator, so the driver
            # would keep every shard's rows for the SparkContext's life.
            # Empty it instead of popping it: a late task update for a
            # popped id raises KeyError in pyspark's update handler.
            acc.value = []

    def mark(shard: int) -> None:
        if checkpoint_dir:
            marker = _marker_path(checkpoint_dir, shard)
            publish(marker, lambda tmp: Path(tmp).write_text("done\n"))

    done = [
        s for s in range(n_shards)
        if checkpoint_dir and os.path.exists(_marker_path(checkpoint_dir, s))
    ]
    pending = [s for s in range(n_shards) if s not in done]
    # At most `width` shards are in flight, so a lost driver redoes at
    # most `width` shards.
    width = max(1, min(len(pending), -(-parallelism // per_shard)))
    target = inheritable_thread_target(spark)(run_shard)
    ran = _run_shards(pending, width, target, mark)
    return {"shards_run": ran, "shards_skipped": done, "n_shards": n_shards}


def read_manifest(
    spark: SparkSession, output_dir: str, dedupe: bool = True
) -> DataFrame:
    """Lineage manifest. Spark does not promise to apply an
    accumulator update from a transformation only once per partition,
    so ``dedupe=True`` (default) keeps one row per (shard,
    partition_id), the highest attempt's, which keeps the metrics
    sum-able; ``dedupe=False`` returns every row. A task that fails in
    its Python worker adds no row: pyspark sends a task's accumulator
    updates only when it succeeds, so every row is an ``ok`` one and a
    retried partition shows just the retry's row
    (tests/test_pipeline.py::test_task_retry_after_injected_failure)."""
    raw = spark.read.schema(MANIFEST_SCHEMA).parquet(
        os.path.join(output_dir, "_manifest")
    )
    if not dedupe:
        return raw
    from pyspark.sql import Window

    w = Window.partitionBy("shard", "partition_id").orderBy(F.col("attempt").desc())
    return (
        raw.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _cli_main() -> None:
    """spark-submit entry point (SURVEY.md §3.4):

        spark-submit --py-files ocr_spark.zip ocr_spark/job.py \
            --input <tbl-or-path> --output <dir> \
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
    args = ap.parse_args()

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
