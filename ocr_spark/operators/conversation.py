"""Conversation-level rollups — the reference's per-transaction pivot
(``docOcrWeb/src/download.jsx:158-264``, SURVEY.md J3/A8) rebuilt over
transcripts: group a conversation's turns into one wide row.

Rollups are native conditional aggregation (map-side combine, one
shuffle on conv_id, whole-stage codegen). Even the reference's
arrival-order weighbridge slotting needs no per-group imperative code:
``transaction_pivot`` does it with a running window counter plus
conditional aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def conv_rollup(transcripts: DataFrame) -> DataFrame:
    """Native rollup: role pivot counts + order-anchored first/last
    (min_by/max_by on turn_idx — A8's 'first wins' as an aggregate)."""
    return transcripts.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_turns"),
        F.sum(F.when(F.col("role") == "user", 1).otherwise(0)).cast("int").alias("n_user"),
        F.sum(F.when(F.col("role") == "assistant", 1).otherwise(0))
        .cast("int")
        .alias("n_assistant"),
        F.sum(F.when(F.col("role") == "tool", 1).otherwise(0)).cast("int").alias("n_tool"),
        F.min_by("role", "turn_idx").alias("first_role"),
        F.max_by("role", "turn_idx").alias("last_role"),
        F.sum(F.length("text")).alias("total_chars"),
    )


def sft_pairs(transcripts: DataFrame) -> DataFrame:
    """Adjacent (user → assistant) turn pairs — the SFT-example
    construction step of a transcripts training pipeline: each
    assistant turn whose immediate predecessor (by turn_idx within the
    conversation) is a user turn yields one (prompt, response) row.

    One lag window per conversation (single shuffle on conv_id, same
    partitioning every conv-level operator here shares); tool turns
    and assistant-after-assistant turns produce no pair, by design."""
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy(F.col("turn_idx").asc())
    out = (
        transcripts.withColumn("prev_role", F.lag("role").over(w))
        .withColumn("prev_text", F.lag("text").over(w))
        .withColumn("prev_idx", F.lag("turn_idx").over(w))
        .filter((F.col("role") == "assistant") & (F.col("prev_role") == "user"))
    )
    return out.select(
        "conv_id",
        F.col("prev_idx").alias("prompt_turn_idx"),
        F.col("turn_idx").alias("response_turn_idx"),
        F.col("prev_text").alias("prompt"),
        F.col("text").alias("response"),
    )


def first_by_turn(col_name: str):
    """First non-null value in turn order, as a deterministic aggregate
    (A8 'first wins', download.jsx:184-264 — the reference depends on
    arrival order; min-of-struct makes it order-independent)."""
    c = F.col(col_name)
    return F.min(
        F.when(c.isNotNull(), F.struct(F.col("turn_idx").alias("t"), c.alias("v")))
    )["v"].alias(col_name)


# fields the reference slots per weighbridge occurrence
# (download.jsx:207-228: Date, Name, Vehicle Number, Net Weight)
WEIGHBRIDGE_SLOT_FIELDS = ("doc_date", "name", "vehicle_no", "net_weight")


def transaction_pivot(fields_df: DataFrame) -> DataFrame:
    """Per-conversation wide row from per-turn document fields: the
    reference's transaction pivot (one 53-column row per subfolder,
    download.jsx:158-264) over transcripts. Each field takes its first
    non-null value in turn order; doc counts by category ride along
    (A6 weighbridgeCount analogue).

    A8 weighbridge slotting (download.jsx:205-239): the first
    weighbridge doc in turn order fills the ``loading_*`` columns, the
    second fills ``unloading_*``. (The reference's exact behavior is
    arrival-order and, for 3+ weighbridge docs, last-wins into loading;
    rank-by-turn is the deterministic generalization — documented
    deviation.) Implemented as a running weighbridge counter window +
    conditional aggregates: the window and the groupBy share the
    conv_id hash partitioning, so the whole pivot is one shuffle."""
    from pyspark.sql import Window

    from ocr_spark.core.fields import FIELD_NAMES

    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    is_wb = F.col("category") == "Weighbridge"
    staged = fields_df.withColumn(
        "_wb_seq", F.sum(F.when(is_wb, 1).otherwise(0)).over(w)
    )

    value_fields = [f for f in FIELD_NAMES if f != "category"]
    aggs = [F.count(F.lit(1)).cast("int").alias("n_docs")]
    aggs.append(
        F.sum(F.when(is_wb, 1).otherwise(0)).cast("int").alias("n_weighbridge")
    )
    aggs.append(first_by_turn("category"))
    aggs.extend(first_by_turn(f) for f in value_fields)
    for rank, prefix in ((1, "loading"), (2, "unloading")):
        aggs.extend(
            F.max(F.when(is_wb & (F.col("_wb_seq") == rank), F.col(c))).alias(
                f"{prefix}_{c}"
            )
            for c in WEIGHBRIDGE_SLOT_FIELDS
        )
    return staged.groupBy("conv_id").agg(*aggs)


def transcript_lint(transcripts: DataFrame) -> DataFrame:
    """Transcript-corpus validation — the data-quality lint an agent-
    transcript pipeline runs before training on conversations: per
    conversation, counts of structural violations that silently poison
    SFT data (the reference's upload-shape validation, P5, generalized
    from file shape to CONVERSATION shape).

    Checks (all integer counts / booleans — engine-exact):
    - ``dup_idx``: repeated turn_idx values (breaks stable ordering,
      the north rule's per-turn identity key);
    - ``idx_contiguous``: turn_idx is exactly 0..n-1;
    - ``ts_regressions``: turns whose timestamp precedes the previous
      turn's (event-time disorder, breaks watermarked replay);
    - ``role_repeats``: consecutive same-role turns (alternation
      breaks — a *signal*, not always an error, for agent traces);
    - ``tool_missing``: role='tool' turns with a NULL tool id;
    - ``empty_turns``: whitespace-only text payloads.

    One window shuffle on conv_id (the same hash(conv_id) layout the
    extraction job shuffles by — co-partitioned, so running lint next
    to extraction adds no extra exchange) + the per-conv aggregate.
    Ordering inside a conversation is (turn_idx, ts, role, text) —
    total even under dup_idx, so both engines agree."""
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts", "role", "text")
    staged = transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        "ts",
        "text",
        F.trim(F.col("text")).alias("_t"),
    ).withColumns(
        {
            "_prev_ts": F.lag("ts").over(w),
            "_prev_role": F.lag("role").over(w),
        }
    )
    return staged.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        (F.count(F.lit(1)) - F.countDistinct("turn_idx")).alias("dup_idx"),
        (
            (F.max("turn_idx") == F.count(F.lit(1)) - 1)
            & (F.min("turn_idx") == 0)
            & (F.countDistinct("turn_idx") == F.count(F.lit(1)))
        ).alias("idx_contiguous"),
        F.sum(F.when(F.col("ts") < F.col("_prev_ts"), 1).otherwise(0))
        .cast("long")
        .alias("ts_regressions"),
        F.sum(F.when(F.col("role") == F.col("_prev_role"), 1).otherwise(0))
        .cast("long")
        .alias("role_repeats"),
        F.sum(
            F.when((F.col("role") == "tool") & F.col("tool").isNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("tool_missing"),
        F.sum(F.when(F.col("_t") == "", 1).otherwise(0)).cast("long").alias(
            "empty_turns"
        ),
    )


def conv_dedup(transcripts: DataFrame) -> DataFrame:
    """CONVERSATION-level exact dedup: a conversation's fingerprint is
    the md5 of its turn texts concatenated in (turn_idx, text) order
    with a \\x1f unit separator — the transcript-corpus analogue of
    document `dedup_exact` (duplicate conversations are the dominant
    exact-dup mode in agent-trace corpora: retried runs, replayed
    sessions). The separator makes the fold injective over turn
    boundaries ("ab"+"c" ≠ "a"+"bc").

    One groupBy on conv_id (collect_list partial-merges map-side;
    per-row state is one conversation's text, bounded by max
    conversation length — the same heavy-conv skew the extraction
    job's salting handles) + one fingerprint-keyed window for group
    sizing. Keeper = lexicographically smallest conv_id.

    NULL turn texts coalesce to '' BEFORE the fold: Spark's
    array_join silently drops NULL elements (an all-NULL conversation
    would hash as md5('')) while DuckDB's string_agg returns NULL
    (md5(NULL) = NULL, every such conv its own "group") — coalescing
    on both sides pins one cross-engine answer: NULL text ≡ empty
    turn.

    Output (conv_id, conv_fp, n_turns, n_dup_convs, is_keeper)."""
    from pyspark.sql import Window

    t = F.coalesce(F.col("text"), F.lit("")).alias("text")
    fp = F.md5(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("turn_idx", t))),
                lambda s: s["text"],
            ),
            "\x1f",
        )
    )
    per_conv = transcripts.groupBy("conv_id").agg(
        fp.alias("conv_fp"), F.count(F.lit(1)).alias("n_turns")
    )
    w = Window.partitionBy("conv_fp")
    return per_conv.select(
        "conv_id",
        "conv_fp",
        "n_turns",
        F.count(F.lit(1)).over(w).alias("n_dup_convs"),
        (F.col("conv_id") == F.min("conv_id").over(w)).alias("is_keeper"),
    )
