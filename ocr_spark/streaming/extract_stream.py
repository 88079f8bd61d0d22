"""Streaming variant of the extraction pipeline.

The reference's "streaming" is a control-plane progress channel with
at-most-once, lose-on-disconnect semantics (``OCR API 2/api.py:48,
141-178`` — SURVEY.md §2.7); the batch job already supersedes it with
checkpoint-resume. This module is the *data-plane* streaming surface
for deployments that tail an append-only transcripts table instead of
running scheduled batches:

- ``streaming_extract``: file-source ``readStream`` → the SAME
  Arrow-batch extraction UDF (stateless per-turn ⇒ identical results
  to the batch path by construction) → ``writeStream`` parquet with
  exactly-once file-sink semantics via the streaming checkpoint.
- ``windowed_turn_counts``: event-time windowed aggregation with a
  watermark for late turns — the stateful-operator pattern
  (conv activity rollup) the reference has no analogue for.

Scale notes: the extraction stage is shuffle-free (per-turn map);
the windowed agg shuffles on (window, conv bucket) with state bounded
by the watermark horizon. ``Trigger.AvailableNow`` gives batch-job
semantics for tests and backfills.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.job import extract_transcripts
from ocr_spark.schema import TRANSCRIPT_SCHEMA


def streaming_extract(spark: SparkSession, input_dir: str) -> DataFrame:
    """readStream over a transcripts parquet directory → extraction."""
    src = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    return extract_transcripts(src)


def windowed_turn_counts(
    spark: SparkSession,
    input_dir: str,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Per-conversation turn counts in event-time windows, tolerant of
    late data up to the watermark."""
    src = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_dir)
    return (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "conv_id")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "conv_id",
            "n_turns",
        )
    )


def streaming_sessionize(
    spark: SparkSession,
    input_dir: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based sessionization on the live stream — the
    ``F.session_window`` twin the batch ``sessionize_events``
    docstring promises (relational.py): a conversation's session
    extends while consecutive turns arrive within ``gap``; state per
    open session is bounded by the watermark horizon (closed sessions
    are finalized and evicted — the only shape that works unbounded).

    Boundary semantics: session_window treats a turn landing exactly
    ``gap`` after the previous as a NEW session (the window is the
    half-open [event, event+gap)), while the batch lag-rule
    (``diff > gap`` starts new) keeps it — agreeing everywhere except
    exact-boundary ties; the parity test pins both behaviors.

    Output one row per closed (session, conv): start/end + turn
    count. Shuffles on (session window, conv) like the tumbling
    variant above."""
    src = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )
    return (
        src.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "conv_id")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "conv_id",
            "n_turns",
        )
    )


def streaming_dedup(
    spark: SparkSession, input_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup: the streaming twin of ``dedup_exact`` /
    the reference's dedup-on-append (J5, ``App.jsx:63-83``) — each
    normalized-text fingerprint survives once per watermark horizon.

    ``dropDuplicatesWithinWatermark`` keys state by fingerprint and
    EVICTS entries older than the watermark, so state is bounded by
    the duplicate-arrival horizon rather than corpus size — the only
    shape that works on an unbounded stream (a plain dropDuplicates
    would grow state forever). Shuffles once on fp, like the batch
    operator."""
    from ocr_spark.functions.text import fingerprint

    src = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(input_dir)
    )
    return (
        src.withWatermark("ts", watermark)
        .withColumn("fp", fingerprint(F.col("text")))
        .dropDuplicatesWithinWatermark(["fp"])
    )


def run_stream_once(
    df: DataFrame, output_dir: str, checkpoint_dir: str, mode: str = "append"
) -> None:
    """Drain all available input with AvailableNow, then stop —
    batch-equivalent execution of a streaming plan (tests, backfill)."""
    q = (
        df.writeStream.format("parquet")
        .outputMode(mode)
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


DOC_STREAM_SCHEMA = "doc_id long, text string"

# The persistent fingerprint index is laid out
# index_dir/epoch=N/fpb=XX/part-*.parquet where XX = the fp's first
# two hex chars (256 buckets). md5 fps are uniform, so buckets are
# balanced by construction; 256 keeps the per-epoch path listing
# driver-metadata-sized (committed_epochs × ≤256 dirs).
INDEX_BUCKET_COL = "fpb"
_BUCKET_HEX_CHARS = 2


def _index_probe_paths(
    index_dir: str, committed_epochs: list[str], buckets: list[str]
) -> list[str]:
    """The exact leaf directories an epoch probe must read: for each
    committed index epoch, only the fp-prefix buckets PRESENT in the
    current micro-batch (a bucket dir may not exist in a given epoch —
    no novel fp with that prefix landed there)."""
    import os

    return [
        p
        for e in committed_epochs
        for b in buckets
        if os.path.isdir(
            p := os.path.join(index_dir, e, f"{INDEX_BUCKET_COL}={b}")
        )
    ]


def incremental_dedup_batch_fn(
    spark: SparkSession, index_dir: str, output_dir: str
):
    """The ``foreachBatch`` body of ``streaming_incremental_dedup``,
    exposed separately so tests can drive epochs (and replays)
    directly. For micro-batch N it:

    1. reads ONLY the fp-prefix buckets of the fingerprint index that
       the micro-batch's own fingerprints can possibly hit (the index
       is written partitioned by ``fpb`` = fp[0:2]; the batch's
       distinct-bucket set is collected first — bounded at 256 values
       — and the probe reads just those ``epoch=*/fpb=XX`` leaves).
       A batch whose fps span few buckets reads a few /256ths of the
       index; a corpus-wide batch degenerates gracefully to the full
       fp column, never the corpus,
    2. runs the batch operator ``dedup.incremental_dedup`` — verdicts
       dup_index / dup_batch / novel, identical semantics to the
       batch protocol by construction (same function; an index
       restricted to the batch's buckets is membership-equivalent for
       every batch fp),
    3. writes verdicts to ``output_dir/epoch=N`` and the novel set's
       fingerprints, partitioned by bucket, to ``index_dir/epoch=N``.

    Exactly-once: both writes are per-epoch directories and the
    function is a NO-OP only once the epoch's index write has
    COMMITTED — the marker is the writer's ``_SUCCESS`` file, not the
    directory's existence, because the committer creates the directory
    before the job commits and a mere-existence check would turn a
    crash mid-write into a permanently lost epoch. A replayed
    micro-batch that finds no ``_SUCCESS`` re-runs and overwrites the
    partial attempt; one that finds it rewrites nothing. Same
    epoch-marker idempotence pattern as the batch job's resume
    (``job.py`` .done markers), applied to streaming state. Write
    order matters: verdicts first, the index epoch (the commit marker)
    last, so the marker implies both sinks are complete.

    Scale: the dedup state lives in the index TABLE, not in executor
    memory — unlike watermark-keyed streaming state it is unbounded
    (a corpus-lifetime memory) yet costs each micro-batch only one
    fp-keyed join over the probed buckets (the collect that picks the
    buckets is ≤256 strings — driver metadata, like the IVF centroid
    fetch). As epochs accumulate, rebase the index
    periodically: rewrite ``spark.read.parquet(index_dir)`` into
    epoch=0 of a FRESH directory and point the job there (never
    compact the live root in place — flattening the ``epoch=`` layout
    would defeat the marker scheme and mix partitioned with flat
    files).
    """
    import os
    import re

    # The _SUCCESS/epoch-marker protocol below walks the index with
    # driver-local os.listdir/os.path.exists. On an s3://-or-hdfs://
    # index those silently return nothing — every micro-batch would see
    # an EMPTY index and emit all-novel verdicts (silent wrong results)
    # — so refuse non-local paths loudly; a cluster deployment routes
    # the listing through the Hadoop FileSystem API instead.
    for p in (index_dir, output_dir):
        # (file:// too: os.path.exists("file:///x") is silently False)
        if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", p):
            raise ValueError(
                "incremental_dedup_batch_fn requires LOCAL index/output "
                f"paths (marker discovery is os.listdir-based); got {p!r}. "
                "Use the Hadoop FileSystem API for object-store indexes."
            )

    def _committed(d: str) -> bool:
        return os.path.exists(os.path.join(d, "_SUCCESS"))

    def fn(batch: DataFrame, epoch_id: int) -> None:
        epoch_index = os.path.join(index_dir, f"epoch={epoch_id}")
        if _committed(epoch_index):  # replayed, fully committed: no-op
            return
        from ocr_spark.functions.text import fingerprint
        from ocr_spark.operators.dedup import incremental_dedup

        committed_epochs = (
            sorted(
                e
                for e in os.listdir(index_dir)
                if e.startswith("epoch=")
                and _committed(os.path.join(index_dir, e))
            )
            if os.path.exists(index_dir)
            else []
        )
        # which index buckets can this batch possibly hit? ≤256-row
        # collect over the (small) micro-batch; NULL fps never match
        # the index, so their (NULL) bucket is not probed
        buckets = sorted(
            r["b"]
            for r in batch.select(
                F.substring(
                    fingerprint(F.col("text")), 1, _BUCKET_HEX_CHARS
                ).alias("b")
            )
            .distinct()
            .collect()
            if r["b"] is not None
        )
        probe = _index_probe_paths(index_dir, committed_epochs, buckets)
        if probe:
            index = spark.read.parquet(*probe).select("fp")
        else:
            index = spark.createDataFrame([], "fp string")
        # one execution of the dedup DAG (which re-probes the bucket
        # subset) feeds BOTH sinks
        verdicts = incremental_dedup(batch, index).persist()
        try:
            verdicts.write.mode("overwrite").parquet(
                os.path.join(output_dir, f"epoch={epoch_id}")
            )
            novel = verdicts.filter(F.col("verdict") == "novel").select("fp")
            novel.withColumn(
                INDEX_BUCKET_COL, F.substring("fp", 1, _BUCKET_HEX_CHARS)
            ).write.mode("overwrite").partitionBy(INDEX_BUCKET_COL).parquet(
                epoch_index
            )
        finally:
            verdicts.unpersist()

    return fn


def streaming_incremental_dedup(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """Streaming twin of the batch-vs-index dedup protocol
    (``dedup.incremental_dedup``): tail an append-only documents
    table and give every arriving doc a dup_index / dup_batch / novel
    verdict against a PERSISTENT fingerprint index that each
    micro-batch extends with its novel set — the production shape of
    continuous-crawl dedup, where ``streaming_dedup``'s
    watermark-bounded state (duplicates arrive close together) is the
    wrong contract and corpus-lifetime memory is required.

    Drains available input with AvailableNow and returns after
    termination; restartable from the checkpoint, idempotent under
    micro-batch replay (see ``incremental_dedup_batch_fn``)."""
    src = (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    q = (
        src.writeStream.foreachBatch(
            incremental_dedup_batch_fn(spark, index_dir, output_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
