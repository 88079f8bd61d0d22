"""Physical-plan quality gates (SURVEY.md §4): the plan IS the
performance contract at 100 TB, so assert its shape, not just results.
"""

from __future__ import annotations

import pytest

from ocr_spark.plans.checks import (
    count_exchanges,
    physical_plan,
    read_schema_columns,
    udf_stage_count,
)

SF_DIR = "/root/testdata/sf0.001"


def test_extraction_single_udf_stage_no_shuffle(spark, transcripts_path):
    from ocr_spark.job import ensure_package_shipped, extract_transcripts

    ensure_package_shipped(spark)
    df = extract_transcripts(spark.read.parquet(transcripts_path))
    assert udf_stage_count(df) == 1  # fused sniff→route→extract
    assert count_exchanges(df) == 0  # pipeline is map-only until repartition
    # column pruning reaches the scan: role/tool/ts never read
    cols = read_schema_columns(df)
    assert set(cols) == {"conv_id", "turn_idx", "text"}


def test_pricing_summary_single_shuffle_and_pruning(spark):
    from ocr_spark.queries import SPARK_QUERIES

    df = SPARK_QUERIES["q1_pricing_summary"](spark, SF_DIR)
    # one shuffle for the groupBy (plus AQE's optional sort for orderBy)
    assert count_exchanges(df) <= 2
    cols = read_schema_columns(df)
    assert "l_extendedprice" in cols and "l_shipdate" not in cols


def test_region_revenue_broadcasts_dims(spark):
    from ocr_spark.queries import SPARK_QUERIES

    df = SPARK_QUERIES["q5_region_revenue"](spark, SF_DIR)
    plan = physical_plan(df)
    # three dims broadcast: 3 detail headers (tree lines double-count)
    import re
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)) == 3
    assert "SortMergeJoin" not in plan


def test_top_orders_broadcasts_customer(spark):
    from ocr_spark.queries import SPARK_QUERIES

    df = SPARK_QUERIES["q3_top_orders"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    # filter pushdown on mktsegment reaches the customer scan
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan
    # the customer join filters orders BELOW (before) the lineitem join
    import re

    tree, details = plan.split("\n\n", 1)
    joins = {
        m.group(3): (m.group(2), m.group(1))
        for m in re.finditer(r"^\((\d+)\) (\w*Join) ?\nLeft keys \[1\]: \[(\w+)#", details, re.M)
    }
    depth = {
        m.group(2): len(m.group(1))
        for m in re.finditer(r"^([ :|+-]*)\w*Join .*\((\d+)\)$", tree, re.M)
    }
    cust_op, cust_id = joins["o_custkey"]
    _, li_id = joins["l_orderkey"]
    assert cust_op == "BroadcastHashJoin"
    assert depth[cust_id] > depth[li_id]


def test_dedup_exact_is_partial_aggregated(spark):
    from ocr_spark.operators.dedup import dedup_exact
    from ocr_spark.sources.io import load_table

    df = dedup_exact(load_table(spark, SF_DIR, "documents"))
    plan = physical_plan(df)
    # map-side combine before the exchange (two HashAggregates)
    assert plan.count("HashAggregate") >= 2
    assert count_exchanges(df) == 1


def _shard_plan(spark, monkeypatch, input_path, output_dir, num_partitions):
    """The frame one ``run_extraction`` shard job writes, captured at
    its ``write.parquet`` call (one shard, so one frame)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from ocr_spark.job import run_extraction

    written = []
    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        written.append(self._df)
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    run_extraction(spark, input_path, output_dir, num_partitions=num_partitions)
    (df,) = written
    return df


def test_extraction_job_exchange_count(spark, transcripts_path, monkeypatch, tmp_path):
    """The full job plan: exactly one hash repartition (the explicit
    salted exchange) on the extraction path."""
    import re

    out = _shard_plan(spark, monkeypatch, transcripts_path, str(tmp_path / "out"), 32)
    plan = physical_plan(out)
    # the salt is a projection of turn_idx: the salted hash repartition
    # is the only exchange — no pre-pass aggregate, no join
    assert count_exchanges(out) == 1
    assert re.search(r"Arguments: hashpartitioning\(conv_id#\d+, salt#\d+, 32\)", plan)
    assert "Join" not in plan


def test_one_python_stage_shape(spark, transcripts_path, monkeypatch, tmp_path):
    """The driver's ``extract_transcripts`` query and a job shard run
    the same operator: one ``MapInPandas``, no scalar-UDF
    ``ArrowEvalPython``."""
    import re

    from ocr_spark.queries import SPARK_QUERIES

    query = SPARK_QUERIES["extract_transcripts"](spark, SF_DIR)
    shard = _shard_plan(spark, monkeypatch, transcripts_path, str(tmp_path / "out"), 4)
    for df in (query, shard):
        plan = physical_plan(df)
        assert len(re.findall(r"^\(\d+\) MapInPandas\b", plan, re.M)) == 1
        assert "ArrowEvalPython" not in plan


def test_partitioned_output_prunes(spark, transcripts_path, tmp_path):
    """Output partitioned by kind → a kind-filtered read scans only
    that partition (PartitionFilters at the source, not a post-filter).
    """
    from ocr_spark.job import ensure_package_shipped, extract_transcripts

    ensure_package_shipped(spark)
    out = str(tmp_path / "by_kind")
    (
        extract_transcripts(spark.read.parquet(transcripts_path))
        .write.mode("overwrite")
        .partitionBy("kind")
        .parquet(out)
    )
    back = spark.read.parquet(out).filter("kind = 'html'")
    plan = physical_plan(back)
    assert "PartitionFilters: [isnotnull(kind" in plan and "kind#" in plan
    import os

    kinds = [d for d in os.listdir(out) if d.startswith("kind=")]
    assert len(kinds) >= 2  # actually partitioned on disk
    assert back.count() > 0


def _oracle(name: str, con=None) -> list[tuple]:
    """Rows of ``ORACLE_SQL[name]`` run by DuckDB — over the sf0.001
    documents table unless ``con`` already defines one."""
    import duckdb

    from ocr_spark.queries import ORACLE_SQL

    if con is None:
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    return con.sql(ORACLE_SQL[name]).fetchall()


def test_simhash_native_zero_shuffle_equals_exploded(spark):
    """The scale-path SimHash is a single map-only projection (no
    Exchange, no Generate/explode) and is value-identical to the
    exploded-arithmetic DuckDB oracle."""
    import re

    from ocr_spark.operators.dedup import simhash
    from ocr_spark.plans.checks import count_exchanges, physical_plan
    from ocr_spark.sources.io import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    nat = simhash(d)
    assert count_exchanges(nat) == 0
    assert not re.search(r"\bGenerate\b", physical_plan(nat))
    a = {r["id"]: r["simhash"] for r in nat.collect()}
    b = dict(_oracle("simhash_docs"))
    assert a == b and len(a) > 0


def test_winnow_native_zero_shuffle_equals_exploded(spark):
    """The scale-path winnowing signature is a single map-only
    projection (no Exchange, no Generate/explode before the result) —
    the per-gram explode + per-doc window sort lives only in the
    DuckDB oracle — and is value-identical to that oracle."""
    import re

    from ocr_spark.operators.dedup import winnow_docs
    from ocr_spark.plans.checks import count_exchanges, physical_plan
    from ocr_spark.sources.io import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    nat = winnow_docs(d)
    assert count_exchanges(nat) == 0
    assert not re.search(r"\bGenerate\b", physical_plan(nat))
    a = {r["doc_id"]: ",".join(r["fps"]) for r in nat.collect()}
    b = dict(_oracle("winnow_docs"))
    assert a == b and len(a) > 0


def test_winnow_short_docs_match_exploded(spark):
    """Docs shorter than one full window (< k+w-1 chars) are dropped
    by both formulations identically (the native path uses a pure
    length predicate; the oracle's frame filter drops them)."""
    import duckdb

    rows = [(1, ""), (2, "tiny"), (3, "elevenchars"), (4, "0123456789"),
            (5, "a dozen chars plus some more to fingerprint")]
    d = spark.createDataFrame(rows, "doc_id int, text string")
    from ocr_spark.operators.dedup import winnow_docs

    con = duckdb.connect()
    con.sql(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") AS t(doc_id, text)"
    )
    a = {r["doc_id"]: ",".join(r["fps"]) for r in winnow_docs(d).collect()}
    b = dict(_oracle("winnow_docs", con))
    assert a == b
    assert set(a) == {3, 5}  # 11 chars = exactly one window; 10 → none


def test_keyset_pagination_no_global_sort(spark):
    """The keyset page plans as TakeOrderedAndProject (per-partition
    top-k) with the key predicate pushed to the scan — no Exchange, no
    single-partition window sort."""
    from ocr_spark.queries import SPARK_QUERIES
    from ocr_spark.plans.checks import count_exchanges, physical_plan

    df = SPARK_QUERIES["paginate_events_keyset"](spark, "/root/testdata/sf0.001")
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert count_exchanges(df) == 0
    assert "PushedFilters: [" in plan and "GreaterThan(event_id" in plan


def test_transaction_pivot_single_shuffle(spark):
    """The weighbridge-slotting window and the conv groupBy share the
    conv_id hash partitioning — the whole pivot is one Exchange."""
    from ocr_spark.core.fields import FIELD_NAMES
    from ocr_spark.operators.conversation import transaction_pivot
    from ocr_spark.plans.checks import count_exchanges

    schema = ", ".join(
        ["conv_id string", "turn_idx int"] + [f"{k} string" for k in FIELD_NAMES]
    )
    df = spark.createDataFrame([], schema=schema)
    assert count_exchanges(transaction_pivot(df)) == 1


def test_asof_join_single_shuffle_no_range_explosion(spark):
    """The as-of join is a cumulative window over the unioned stream:
    exactly one Exchange (user_id), no join operator at all — never
    the quadratic range-join candidate explosion."""
    from ocr_spark.queries import SPARK_QUERIES
    from ocr_spark.plans.checks import count_exchanges, physical_plan

    df = SPARK_QUERIES["asof_last_purchase"](spark, SF_DIR)
    assert count_exchanges(df) == 1
    assert "Join" not in physical_plan(df)


def test_repetition_stats_zero_shuffle(spark):
    """Both repetition signals are per-row scalar expressions: the
    whole query is scan + project, no Exchange, no Generate."""
    import re

    from ocr_spark.plans.checks import count_exchanges, physical_plan
    from ocr_spark.queries import SPARK_QUERIES

    df = SPARK_QUERIES["repetition_stats"](spark, SF_DIR)
    assert count_exchanges(df) == 0
    assert not re.search(r"\bGenerate\b", physical_plan(df))


def test_chunk_docs_zero_shuffle(spark):
    """Chunking is scan → one bound-array projection → posexplode:
    no Exchange anywhere (the chunk fan-out is pipelined)."""
    from ocr_spark.plans.checks import count_exchanges
    from ocr_spark.queries import q_chunk_docs

    assert count_exchanges(q_chunk_docs(spark, SF_DIR)) == 0


def test_sft_pairs_single_shuffle(spark, transcripts_path):
    """SFT pair construction is one lag window: a single conv_id
    Exchange, no join."""
    from ocr_spark.operators.conversation import sft_pairs
    from ocr_spark.plans.checks import count_exchanges, physical_plan

    df = sft_pairs(spark.read.parquet(transcripts_path))
    assert count_exchanges(df) == 1
    assert "Join" not in physical_plan(df)


def test_corpus_filter_single_shuffle(spark):
    """The cleaning chain (lang + quality + dedup keeper) is scan +
    one Exchange (the fingerprint window); gates stay predicates."""
    from ocr_spark.plans.checks import count_exchanges
    from ocr_spark.queries import q_corpus_filter

    assert count_exchanges(q_corpus_filter(spark, "/root/testdata/sf0.001")) == 1


def test_range_join_binned_stays_equi_join(spark):
    """The whole point of binning: Catalyst must see an equi-key.
    A naive range predicate degenerates to BroadcastNestedLoopJoin /
    CartesianProduct — quadratic per key at scale."""
    from ocr_spark.queries import SPARK_QUERIES

    df = SPARK_QUERIES["clicks_before_purchase"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_winnow_span_runs_signature_stage_map_only(spark):
    """The positioned fingerprint stage (winnow_run_starts) must stay
    map-only like winnow_docs: no exchange, no window sort over the
    per-character gram stream — the minima array is computed in one
    projection and only then exploded."""
    from ocr_spark.operators.dedup import winnow_run_starts

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = winnow_run_starts(docs)
    assert count_exchanges(df) == 0
    assert "Window" not in physical_plan(df)


def test_materialize_mixture_broadcasts_weights(spark):
    """The corpus-side sampling pass must join the source-cardinality
    weights table by BROADCAST — a shuffle join here would exchange
    the whole corpus to meet a metadata-sized table."""
    from ocr_spark.operators.corpus import materialize_mixture

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = physical_plan(materialize_mixture(docs))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rolling_user_value_single_shuffle(spark):
    from ocr_spark.queries import SPARK_QUERIES

    df = SPARK_QUERIES["rolling_user_value"](spark, SF_DIR)
    assert count_exchanges(df) == 1


def test_funnel_conversion_no_range_explosion(spark):
    """The funnel must stay a keyed equi-join + two partial aggs — a
    time-predicate join (signup×purchase pairs) would be quadratic
    per user at scale."""
    from ocr_spark.queries import SPARK_QUERIES

    df = SPARK_QUERIES["funnel_conversion"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_banded_sign_lsh_no_cartesian_and_capped(spark):
    """The embedding LSH candidate stage must stay an equi-join on
    (band, bucket) with the count cap applied — never a cartesian /
    broadcast-nested-loop degeneration (the r3 verdict's one flagged
    quadratic plan)."""
    from ocr_spark.operators.similarity import cosine_neardup_lsh
    from ocr_spark.sources.io import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    df = cosine_neardup_lsh(emb, threshold=0.3, bits=8, n_bands=8, max_bucket=256)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    # the cap filter is present in the plan (count <= max_bucket)
    assert "256" in plan


def test_weighted_sample_single_exchange(spark):
    """A-ES sampling is key-local: the only wide op is the per-group
    top-k window — one exchange on the group column, zero UDFs."""
    from ocr_spark.operators.corpus import weighted_sample
    from ocr_spark.sources.io import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_DIR, "documents").withColumn(
        "weight", (F.lit(1) + F.floor(F.length("text") / 512)).cast("int")
    )
    df = weighted_sample(docs, k=20)
    assert count_exchanges(df) == 1
    assert udf_stage_count(df) == 0
    # column pruning: the sampler never reads text beyond the weight
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan


def test_semantic_decontaminate_broadcast_only(spark):
    """The eval pool broadcasts; the corpus side is never shuffled
    before the scoring join (one exchange for the final groupBy)."""
    from ocr_spark.operators.similarity import semantic_decontaminate
    from ocr_spark.sources.io import load_table

    df = semantic_decontaminate(load_table(spark, SF_DIR, "embeddings"))
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert count_exchanges(df) <= 1  # broadcast exchanges aren't counted


def test_conv_ops_exchange_bounds(spark, transcripts_path):
    """transcript_lint: one conv window + conv agg reuse the same hash
    partitioning (≤2 exchanges, AQE may fuse); conv_dedup: conv agg +
    fp window (≤2)."""
    from ocr_spark.operators.conversation import conv_dedup, transcript_lint

    t = spark.read.parquet(transcripts_path)
    assert count_exchanges(transcript_lint(t)) <= 2
    assert count_exchanges(conv_dedup(t)) <= 2
    for fn in (transcript_lint, conv_dedup):
        assert "CartesianProduct" not in physical_plan(fn(t))


def test_incremental_dedup_fp_keyed_only(spark):
    """Batch-vs-index dedup shuffles BATCH-sized (id, 32-hex fp) rows
    only — three exchanges (keeper aggregation, batch-fp distinct,
    batch∩index distinct), all bounded by batch size. The INDEX — the
    protocol's big side — is never shuffled: its membership probe is a
    BroadcastHashJoin LeftSemi against the broadcast batch-fp set
    (map-side filter of the index scan; bucketing the index by fp
    additionally bounds the scan itself). The scan reads nothing
    beyond (doc_id, text). Crucially NO Window operator: first-wins is
    groupBy(min)+join so a hot fingerprint is map-side combined and
    AQE-skew-splittable instead of pinning a single window reducer."""
    from ocr_spark.queries import q_incremental_dedup

    df = q_incremental_dedup(spark, SF_DIR)
    assert count_exchanges(df) == 3
    assert udf_stage_count(df) == 0
    cols = read_schema_columns(df)
    assert set(cols) == {"doc_id", "text"}
    plan = physical_plan(df)
    assert "BroadcastHashJoin LeftSemi" in plan  # index probe, map-side
    assert "SortMergeJoin" not in plan  # nothing big ever shuffles
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_pmi_collocations_bounded_rank_sort(spark):
    """The rank<=top_n filter must compile to a window-group-limit
    (TakeOrderedAndProject): the global PMI sort touches only the
    top-k survivors, never the full bigram vocabulary; unigram counts
    broadcast back onto the min_count-filtered bigram table."""
    from ocr_spark.queries import SPARK_QUERIES

    df = SPARK_QUERIES["pmi_collocations"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    import re
    assert len(re.findall(r"^\s*\(\d+\) BroadcastHashJoin", plan, re.M)) == 2
    assert "CartesianProduct" not in plan
    assert udf_stage_count(df) == 0


def test_bpe_merge_candidates_vocab_sized_explosion(spark):
    """The char-pair explosion must run on the VOCABULARY table, not
    the corpus: exactly two exchanges (corpus word count, vocab pair
    count), zero UDF stages, and the rank filter compiles to a
    window-group-limit."""
    from ocr_spark.queries import SPARK_QUERIES

    df = SPARK_QUERIES["bpe_merge_candidates"](spark, SF_DIR)
    assert count_exchanges(df) == 2
    assert udf_stage_count(df) == 0
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_vocab_growth_no_per_checkpoint_rescan(spark):
    """The Heaps' curve must come from the first-seen-minimum
    formulation: zero UDFs, no cartesian blowup (the only crossJoins
    carry the 4-row threshold table), no Window."""
    from ocr_spark.queries import SPARK_QUERIES

    df = SPARK_QUERIES["vocab_growth"](spark, SF_DIR)
    assert udf_stage_count(df) == 0
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
