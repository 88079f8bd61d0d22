"""Driver-contract query registry: Spark callables + DuckDB oracle SQL.

``SPARK_QUERIES[name](spark, sf_dir) -> DataFrame`` and
``ORACLE_SQL[name]`` (ANSI SQL over the driver's pre-registered views)
compute the same result, column-name and value identical. Parity rules
(documented once here, applied everywhere):

- **hashes**: only md5-hex-strings (portable; lexicographic = numeric
  128-bit order, so min(md5(x)) is a valid MinHash in both engines);
- **money/quantity sums**: DECIMAL(15,4)/(30,8) casts — exact, fold-
  order-independent — cast to DOUBLE only at the end;
- **float folds** (dot products, norms): generated left-to-right
  expression chains, identical IEEE evaluation order in both engines;
- **ranking**: every row_number has a unique-key tie-break;
- **window ORDER BY must be total** (unique key per partition), not
  just for ranking: a gaps-and-islands build computes its flag in one
  window and its prefix-sum in another, and with duplicate sort keys
  the two evaluations may order tied peers DIFFERENTLY (observed as a
  run-to-run flip in DuckDB's parallel window sort) — dedupe rows or
  add a tie-break column before windowing;
- **timestamps**: emitted as strftime strings;
- **rounding**: round(x, 6) only on values that are bit-identical
  across engines by construction (ties at the 7th decimal are not
  representable in binary, so rounding-mode differences can't bite);
- **whitespace boundary (known contract edge)**: ``\\s`` agrees across
  Java/RE2/DuckDB (all ASCII-only classes), but ``trim()`` does NOT —
  DuckDB strips unicode spaces (NBSP U+00A0), Spark strips ASCII
  space only, so text with LEADING/TRAILING unicode whitespace is
  outside the token-query parity contract (interior unicode spaces
  are fine: neither engine splits on them). The extraction pipeline
  is immune — its NFKC normalization folds NBSP to space before any
  tokenization — and the contract edge is pinned by
  tests/test_corpus.py::test_whitespace_parity_contract;
- **case-folding boundary (known contract edge)**: ``lower()`` agrees
  for Latin-1/precomposed/decomposed accents and ß/ẞ, but diverges on
  the Turkish dotted capital İ (U+0130): Java lowers it to
  ``i + U+0307`` (the Unicode full mapping), DuckDB to plain ``i`` —
  so fingerprints of İ-bearing text differ between engines. Pinned by
  tests/test_corpus.py::test_case_fold_parity_contract; fold U+0130
  upstream (NFKD or an explicit translate) if Turkish-script corpora
  must be oracle-compared.

Every ``SPARK_QUERIES`` key has an ``ORACLE_SQL`` entry. A query that
applies one operator to its loaded inputs is a ``_on(loader, op, **kw)``
row of the registry (``_on((loader, ...), op)`` for several inputs); a
query with more to it is a ``q_*`` function. The loaders here are the
only code that knows the testdata layout: operators take DataFrames.
Queries that are not SQL-expressible (the extraction pipeline, the
field extractor) compare against parquet written by a pure-Python run
of the shared core (ocr_spark/oracle_fixtures.py);
tests/test_entry_oracle.py runs the whole registry against its oracles.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ocr_spark.core.fields import FIELD_NAMES
from ocr_spark.fixtures import _transcripts_fixture_file, transcripts_fixture_path
from ocr_spark.functions.text import (
    LANG_PRIORITY,
    PII_EMAIL_RE as _PII_EMAIL,
    PII_IP_RE as _PII_IP,
    PII_PHONE_RE as _PII_PHONE,
    STOPWORDS,
    char_count,
    chunk_structs,
    dup_line_frac,
    fingerprint,
    lang_id,
    pii_counts,
    pii_redact,
    quality_score,
    token_count,
    token_estimate,
    top_bigram_frac,
    word_shingles,
)
from ocr_spark.job import extract_transcripts
from ocr_spark.operators import corpus as C
from ocr_spark.operators import relational as R
from ocr_spark.operators import similarity as S
from ocr_spark.operators.conversation import (
    WEIGHBRIDGE_SLOT_FIELDS,
    conv_dedup,
    conv_rollup,
    sft_pairs,
    transaction_pivot,
    transcript_lint,
)
from ocr_spark.operators.dedup import (
    DEFAULT_BANDS,
    DEFAULT_NUM_HASHES,
    LSH_MAX_BUCKET,
    WINNOW_MAX_POSTINGS,
    apply_span_surgery,
    canonical_dedup,
    dedup_exact,
    duplicate_components,
    incremental_dedup,
    keep_best_representative,
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
    simhash,
    winnow_docs,
    winnow_overlap_pairs,
    winnow_span_runs,
)
from ocr_spark.operators.multimodal import (
    extract_media_features,
    resize_images,
    sample_frames,
    to_media_table,
)
from ocr_spark.operators.sketch import (
    bloom_semijoin_stats,
    cms_top_frequencies,
    hll_distinct,
)
from ocr_spark.oracle_fixtures import (
    docextract_oracle_name,
    extract_oracle_name,
    fields_oracle_name,
    oracle_path,
)
from ocr_spark.schema import EXTRACT_STRUCT, FIELDS_SCHEMA
from ocr_spark.sources.io import load_table
from ocr_spark.udfs import extract_rows, fields_batch, map_batches

# ---------------------------------------------------------------------------
# Spark-side queries
# ---------------------------------------------------------------------------

_Query = Callable[[SparkSession, str], DataFrame]


def _sf_of(sf_dir: str) -> float:
    m = re.search(r"sf(\d+(?:\.\d+)?)", sf_dir)
    return float(m.group(1)) if m else 0.01


def _table(name: str) -> _Query:
    """The loader of testdata table ``name`` (TESTDATA.md)."""

    def load(spark: SparkSession, sf_dir: str) -> DataFrame:
        return load_table(spark, sf_dir, name)

    return load


def _wide_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents scan widened to every core. The testdata parquet
    is a single row group, so the scan cannot split — without widening,
    a hash-per-token map (simhash signatures, winnowing's rolling
    hashes) runs on ONE core. The repartition shuffles ~raw-text bytes
    (tiny) to unlock full-width compute, the same call minhash_lsh
    makes before shingling (dedup.py). The operators themselves stay
    map-only/zero-shuffle (tests/test_plan_shape.py); on a many-file
    100 TB table the scan is already wide and the widening is a no-op
    cost-wise (one linear pass it would spend anyway)."""
    return load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic transcripts fixture at the same sf tier as sf_dir."""
    return spark.read.parquet(transcripts_fixture_path(_sf_of(sf_dir)))


def _weighted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with the length-derived integer sampling weight that
    weighted_sample and its clamp audit both read."""
    return load_table(spark, sf_dir, "documents").withColumn(
        "weight", (F.lit(1) + F.floor(F.length("text") / 512)).cast("int")
    )


def _on(
    loaders: _Query | tuple[_Query, ...], op: Callable[..., DataFrame], *args, **kw
) -> _Query:
    """The driver query ``op(*frames, *args, **kw)``, one frame per
    loader (``loaders`` is one loader or a tuple of them)."""
    if not isinstance(loaders, tuple):
        loaders = (loaders,)

    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        return op(*(load(spark, sf_dir) for load in loaders), *args, **kw)

    return query


def _per_doc(**exprs: Callable[[Column], Column]) -> _Query:
    """A map-only driver query: doc_id plus one named column per scalar
    text function applied to the document text."""

    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        text = F.col("text")
        return load_table(spark, sf_dir, "documents").select(
            "doc_id", *(fn(text).alias(name) for name, fn in exprs.items())
        )

    return query


def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical training-data cleaning chain composed end-to-end:
    language gate + quality gate + exact-dup keeper, in ONE pass.

    Plan shape: a single projection computes lang/quality/fingerprint
    per doc, the keeper is a window-min over the fingerprint (one
    shuffle total), and both gates are plain predicates — no second
    aggregation or join. At 100 TB this is scan + one exchange."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        lang_id(F.col("text")).alias("pred_lang"),
        quality_score(F.col("text")).alias("quality"),
        fingerprint(F.col("text")).alias("fp"),
    )
    keeper = F.min("doc_id").over(Window.partitionBy("fp"))
    return (
        scored.withColumn("keeper", keeper)
        .filter(
            (F.col("doc_id") == F.col("keeper"))
            & (F.col("pred_lang") == "en")
            & (F.col("quality") >= 0.7)
        )
        .select("doc_id", "pred_lang", "quality")
    )


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: LSH near-dup pairs → connected
    components (min-label propagation) → per-doc keeper decision."""
    docs = load_table(spark, sf_dir, "documents")
    return duplicate_components(docs, minhash_lsh_dedup(docs, threshold=0.5))


def q_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-scoped vector search: cosine top-3 restricted to
    English documents (pre-filter semi-join BEFORE any distance
    work) — embeddings align with documents on vec_id = doc_id."""
    allowed = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang") == "en")
        .select(F.col("doc_id").alias("vec_id"))
    )
    return S.cosine_topk_filtered(
        load_table(spark, sf_dir, "embeddings"), allowed, n_queries=10, k=3
    )


def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = to_media_table(load_table(spark, sf_dir, "documents"))
    return media.select(
        "doc_id", "media_type", "n_bytes", F.md5(F.col("payload")).alias("checksum")
    )


def q_embedding_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 zip/posexplode analogue: array position-join — components of
    the first 4 embedding dims as rows."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20)
    return e.select(
        "vec_id",
        F.posexplode(F.slice("embedding", 1, 4)).alias("pos", "c"),
    ).select("vec_id", "pos", F.round(F.col("c").cast("double"), 6).alias("c"))


def _json_spans(df: DataFrame) -> DataFrame:
    """Driver-surface projection: the typed spans array<struct> becomes
    a compact JSON string (the driver's canonicalizer sorts/hashes
    scalar cells; arrays crash it — library callers keep the typed
    column via job.extract_transcripts)."""
    return df.withColumn("spans", F.to_json("spans"))


def q_extract_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship pipeline: synthetic transcripts (same sf tier as
    sf_dir) → sniff → route → extract → spans+metrics."""
    return _json_spans(extract_transcripts(_transcripts(spark, sf_dir)))


def q_extract_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction over the driver's documents table (plain-text path)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    schema = StructType([d.schema["doc_id"], *EXTRACT_STRUCT.fields])
    return _json_spans(map_batches(d, extract_rows, schema))


def q_extract_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference parity surface: per-turn document fields over the
    pdf_like turns (classify cascade + W/F-heuristics, core/fields.py)."""
    ext = extract_transcripts(_transcripts(spark, sf_dir))
    pdf_like = ext.filter(F.col("kind") == "pdf_like").select(
        "conv_id", "turn_idx", "extracted_text"
    )
    return map_batches(pdf_like, fields_batch, FIELDS_SCHEMA)


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_media_features(to_media_table(load_table(spark, sf_dir, "documents")))


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver surface projects thumbnail bytes to their length (the
    stub thumbnail is digest-repetition filler; its LENGTH is the part
    with defined semantics, and the oracle can compute it)."""
    r = resize_images(to_media_table(load_table(spark, sf_dir, "documents")))
    return r.select(
        "doc_id", "width", "height", "resized_width", "resized_height",
        F.octet_length("thumbnail").cast("int").alias("thumb_len"),
    )


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sample_frames(to_media_table(load_table(spark, sf_dir, "documents")))


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (context-window prep): one row per
    overlapping chunk, tail chunks kept short."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.posexplode(chunk_structs(F.col("text"))).alias("chunk_idx", "c")
    ).select("doc_id", "chunk_idx", F.col("c.chunk_text"), F.col("c.n_tokens"))


def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver surface serializes the fingerprint array to a CSV string
    (sorted + distinct already, so the string is canonical)."""
    w = winnow_docs(_wide_docs(spark, sf_dir))
    return w.select("doc_id", F.array_join("fps", ",").alias("fps"))


def q_near_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dedup pipeline end to end: LSH pairs → duplicate
    clusters → keep the highest-QUALITY member per cluster (tie → min
    id) instead of the arbitrary min-id keeper. One row per doc with
    its cluster, score, and keep/drop verdict."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_dedup(docs, threshold=0.5)
    comps = duplicate_components(docs, pairs)
    scored = docs.select("doc_id", quality_score(F.col("text")).alias("quality"))
    return keep_best_representative(scored, comps)


def q_span_surgery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span surgery end to end: detect duplicated passages
    (winnow_span_runs), then cut them out of the higher-id doc —
    whole-corpus output with per-doc cut accounting and the cleaned
    text's fingerprint."""
    docs = _wide_docs(spark, sf_dir)
    return apply_span_surgery(docs, winnow_span_runs(docs))


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023, public): near-dup
    removal in EMBEDDING space — sign-LSH cosine pairs resolve into
    semantic clusters via the same connected-components operator the
    text pipeline uses; one representative (min vec_id) survives per
    cluster. Textually distinct rephrasings collapse here that no
    shingle method can catch — the complement of MinHash dedup."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = S.cosine_neardup_lsh(emb, threshold=0.3)
    return duplicate_components(emb.select("vec_id"), pairs, id_col="vec_id")


def q_cap_drop_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emitted drop accounting for the repo's two silent posting caps
    (winnow_overlap_pairs' ``WINNOW_MAX_POSTINGS``, cross_source_overlap's
    ``OVERLAP_MAX_SOURCES`` over ``SHINGLE_N``-word shingles): one summary
    row per cap quantifying the keys and postings the guard discards at
    this corpus scale — the audit a user runs before trusting a capped
    operator's recall. It reads the operators' own constants, so it
    always audits the caps they apply."""
    docs = load_table(spark, sf_dir, "documents")
    wfp = winnow_docs(docs).select("doc_id", F.explode("fps").alias("fp"))
    w_stats = C.cap_drop_stats(wfp, "fp", WINNOW_MAX_POSTINGS, "winnow_max_postings")
    sh = docs.select(
        F.col("source").alias("src"),
        F.explode(word_shingles(F.col("text"))).alias("s"),
    ).distinct()
    s_stats = C.cap_drop_stats(sh, "s", C.OVERLAP_MAX_SOURCES, "cross_source_max_sources")
    return w_stats.unionByName(s_stats)


def _pii_augmented_text() -> Column:
    """The synthetic documents carry no PII, so the pii_scrub surface
    appends deterministic PII spans first (emails to 1 in 5 docs,
    phones to another fifth, IPs to a third) — the SAME augmentation
    expression runs in the DuckDB oracle, so detection/redaction is
    exercised on real hits, not vacuously on zero matches."""
    did = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" contact user"),
                did.cast("string"),
                F.lit("@example.com for details"),
            ),
        )
        .when(
            did % 5 == 1,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((did % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad(((did * 3) % 10000).cast("string"), 4, "0"),
                F.lit(" office"),
            ),
        )
        .when(
            did % 5 == 2,
            F.concat(
                F.lit(" node 10.0."),
                (did % 256).cast("string"),
                F.lit("."),
                ((did * 7) % 256).cast("string"),
                F.lit(" up"),
            ),
        )
        .otherwise(F.lit("")),
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (emails/phones/IPv4) over the
    deterministically augmented text — map-only scalar regex work."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", _pii_augmented_text().alias("t"))
    n_emails, n_phones, n_ips = pii_counts(F.col("t"))
    return d.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        n_ips.alias("n_ips"),
        pii_redact(F.col("t")).alias("redacted"),
    )


def q_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom pre-filter stats: probe every lineitem row against a
    bitset of URGENT order keys; one row of exact effectiveness
    numbers (candidates, true matches, false positives, fp rate)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return bloom_semijoin_stats(
        load_table(spark, sf_dir, "lineitem"), orders, "l_orderkey", "o_orderkey"
    )


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus version diff over a deterministically-derived second
    snapshot (the same construction pattern as decontaminate's eval
    slice and pii_scrub's augmentation): docs with id % 11 == 0 are
    removed in the new snapshot, id % 13 == 0 get a ' [rev2]' edit,
    id % 17 == 0 are duplicated as fresh high-id additions."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
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
    return C.snapshot_diff(docs, base.unionByName(added))


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-index dedup over deterministically-derived inputs
    (same construction pattern as snapshot_diff): the historical index
    holds the fingerprints of docs with id % 3 == 0; the incoming
    batch is every doc plus high-id exact copies of docs with
    id % 7 == 0 — so the verdicts exercise all three outcomes
    (re-crawl of indexed docs → dup_index, fresh copies of unindexed
    docs → dup_batch, the rest → novel)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    batch = docs.unionByName(
        docs.filter(did % 7 == 0).select(
            (did + 10000000).alias("doc_id"), "text"
        )
    )
    index = docs.filter(did % 3 == 0).select(
        fingerprint(F.col("text")).alias("fp")
    )
    return incremental_dedup(batch, index)


# the star-join inputs of region_revenue and revenue_rollup
_STAR = tuple(_table(t) for t in ("lineitem", "supplier", "nation", "region"))

SPARK_QUERIES: dict[str, _Query] = {
    # relational operator suite (SURVEY §2.5/2.6 mappings)
    "q1_pricing_summary": _on(_table("lineitem"), R.pricing_summary),
    "q3_top_orders": _on((_table("customer"), _table("orders"), _table("lineitem")), R.top_orders),
    "q5_region_revenue": _on(_STAR, R.region_revenue),
    "mode_event_type": _on(_table("events"), R.mode_event_type),
    "mode_event_type_ties_null": _on(_table("events"), R.mode_event_type_ties_null),
    "argmax_event": _on(_table("events"), R.argmax_event),
    "latest_event": _on(_table("events"), R.latest_event),
    "event_type_pivot": _on(_table("events"), R.event_type_pivot),
    "progress_ratio": _on(_table("events"), R.progress_ratio),
    "paginate_events": _on(_table("events"), R.paginate_events),
    "paginate_events_keyset": _on(_table("events"), R.paginate_events_keyset),
    "distinct_user_types": _on(_table("events"), R.distinct_user_types),
    "events_per_day": _on(_table("events"), R.events_per_day),
    "props_sum": _on(_table("events"), R.props_sum),
    # line-window analogues (SURVEY §2.4 W1/W2)
    "w2_label_next": _on(_table("documents"), R.label_next_value),
    "w1_anchor_lookback": _on(_table("documents"), R.anchor_lookback),
    "w3_label_offset2": _on(_table("documents"), R.label_offset2),
    "w7_multi_pass": _on(_table("documents"), R.multi_pass_coalesce),
    "orders_by_month": _on(_table("orders"), R.orders_by_month),
    "revenue_rollup": _on(_STAR, R.revenue_rollup),
    "revenue_cube": _on(_table("lineitem"), R.revenue_cube),
    "sessionize_events": _on(_table("events"), R.sessionize_events),
    "asof_last_purchase": _on(_table("events"), R.asof_last_purchase),
    "source_quota_sample": _on(_table("documents"), R.source_quota_sample),
    # Gopher-style repetition signals (zero-shuffle scalar expressions)
    "repetition_stats": _per_doc(
        dup_line_frac=dup_line_frac, top_bigram_frac=top_bigram_frac
    ),
    "chunk_docs": q_chunk_docs,
    "sft_pairs": _on(_transcripts, sft_pairs),
    "format_tons": _on(_table("events"), R.format_tons),
    "embedding_components": q_embedding_components,
    # text analysis (training-data ops)
    "text_stats": _per_doc(n_tokens=token_count, n_chars_actual=char_count),
    "token_estimate": _per_doc(n_bpe_tokens=token_estimate),
    "lang_id_docs": _per_doc(pred_lang=lang_id),
    "quality_score_docs": _per_doc(quality=quality_score),
    "fingerprint_docs": _per_doc(fp=fingerprint),
    # dedup family
    "dedup_exact_docs": _on(_table("documents"), dedup_exact),
    "ngram_jaccard": _on(_table("documents"), ngram_jaccard_pairs, threshold=0.5),
    "minhash_lsh": _on(_table("documents"), minhash_lsh_dedup, threshold=0.5),
    "simhash_docs": _on(_wide_docs, simhash),
    "dedup_components": q_dedup_components,
    "corpus_filter": q_corpus_filter,
    # similarity search
    "knn_topk": _on(_table("embeddings"), S.cosine_topk, k=3),
    "embedding_neardup": _on(_table("embeddings"), S.cosine_neardup, threshold=0.4),
    "embedding_neardup_lsh": _on(_table("embeddings"), S.cosine_neardup_lsh, threshold=0.3),
    "label_centroids": _on(_table("embeddings"), S.label_centroid_count),
    # IVF runs the seeded closed-form quantizer, so the DuckDB oracle
    # runs the identical algorithm; ivf_topk is the wider probe (6 of
    # 16 cells).
    "ivf_topk": _on(_table("embeddings"), S.ivf_topk_seeded, n_queries=10, k=3, n_probe=6),
    "ivf_topk_seeded": _on(_table("embeddings"), S.ivf_topk_seeded, n_queries=10, k=3, n_probe=4),
    # multimodal
    "media_meta": q_media_meta,
    # extraction engine and conversation ops: oracles are a pure-Python
    # run of the shared core, or plain SQL over the same transcripts
    "extract_transcripts": q_extract_transcripts,
    "conv_rollup": _on(_transcripts, conv_rollup),
    "transcript_lint": _on(_transcripts, transcript_lint),
    "conv_dedup": _on(_transcripts, conv_dedup),
    "extract_fields": q_extract_fields,
    "transaction_pivot": _on(q_extract_fields, transaction_pivot),
    "extract_documents": q_extract_documents,
    "multimodal_features": q_multimodal_features,
    "multimodal_resize": q_multimodal_resize,
    "multimodal_frames": q_multimodal_frames,
    "winnow_docs": q_winnow,
    "winnow_overlap": _on(_wide_docs, winnow_overlap_pairs),
    "winnow_span_runs": _on(_wide_docs, winnow_span_runs),
    "near_dedup_keep_best": q_near_dedup_keep_best,
    "clicks_before_purchase": _on(_table("events"), R.clicks_before_purchase),
    # corpus-level training-data ops
    "decontaminate_docs": _on(_table("documents"), C.decontaminate),
    "tfidf_top_terms": _on(_table("documents"), C.tfidf_top_terms),
    "length_percentiles": _on(_table("documents"), C.length_percentiles),
    "vocab_stats": _on(_table("documents"), C.vocab_stats),
    "train_val_split": _on(_table("documents"), C.train_val_split),
    "pii_scrub": q_pii_scrub,
    "source_stats": _on(_table("documents"), C.source_stats),
    "cross_source_overlap": _on(_table("documents"), C.cross_source_overlap),
    "quantize_embeddings": _on(_table("embeddings"), S.quantize_embeddings),
    "boilerplate_scrub": _on(_table("documents"), C.boilerplate_scrub),
    "pack_sequences": _on(_table("documents"), C.pack_sequences),
    "script_profile": _on(_table("documents"), C.script_profile),
    "source_mixture_weights": _on(_table("documents"), C.source_mixture_weights),
    "materialize_mixture": _on(_table("documents"), C.materialize_mixture),
    "rolling_user_value": _on(_table("events"), R.rolling_user_value),
    "funnel_conversion": _on(_table("events"), R.funnel_conversion),
    "source_top_terms": _on(_table("documents"), C.source_top_terms),
    "cap_drop_accounting": q_cap_drop_accounting,
    "weighted_sample": _on(_weighted_docs, C.weighted_sample, k=20),
    "weighted_sample_clamp": _on(_weighted_docs, C.weighted_sample_clamp_stats),
    "semantic_decontaminate": _on(
        _table("embeddings"), S.semantic_decontaminate, n_eval=20, threshold=0.4
    ),
    "knn_label_propagation": _on(_table("embeddings"), S.knn_label_propagation, n_queries=30, k=5),
    "canonical_dedup": _on(_table("documents"), canonical_dedup),
    "filtered_knn": q_filtered_knn,
    "skew_report": _on(_table("events"), R.skew_report, "user_id", top_n=5),
    "semantic_dedup": q_semantic_dedup,
    "span_surgery": q_span_surgery,
    "unigram_commonness": _on(_table("documents"), C.unigram_commonness),
    # mergeable sketches (distributed cardinality / frequency / join pruning)
    # ~12k-40k distinct l_orderkey per l_returnflag at the driver tiers:
    # solidly in HLL's raw-estimate regime; the exact count rides along
    "hll_distinct": _on(_table("lineitem"), hll_distinct, "l_orderkey", "l_returnflag"),
    "bloom_semijoin": q_bloom_semijoin,
    # the synthetic l_partkey stream is uniform, so the exact column
    # shows the ~N/w collision floor: what is under test is
    # never-undercount and the (e/w)*N bound, not point accuracy
    "cms_frequencies": _on(_table("lineitem"), cms_top_frequencies, "l_partkey"),
    # skew-safe join mechanism + corpus CDC
    "salted_join_revenue": _on((_table("lineitem"), _table("part")), R.salted_part_revenue),
    "snapshot_diff": q_snapshot_diff,
    # batch-vs-index dedup protocol + collocation mining + BPE stats
    "incremental_dedup": q_incremental_dedup,
    "pmi_collocations": _on(_table("documents"), C.pmi_collocations),
    "bpe_merge_candidates": _on(_table("documents"), C.bpe_merge_candidates),
    "vocab_growth": _on(_table("documents"), C.vocab_growth),
}

# ---------------------------------------------------------------------------
# DuckDB oracle SQL (generated where repetitive)
# ---------------------------------------------------------------------------

_REV_TERM = (
    "CAST(CAST(l_extendedprice AS DECIMAL(15,4)) * "
    "(CAST(1 AS DECIMAL(15,4)) - CAST(l_discount AS DECIMAL(15,4))) AS DECIMAL(30,8))"
)

_TOKS = "regexp_split_to_array(trim(text), '\\s+')"

_SHINGLE_CTE = f"""
toks AS (SELECT doc_id, {_TOKS} AS w FROM documents),
sh AS (
  SELECT doc_id AS id, unnest(list_distinct(list_transform(
    range(len(w) - 2), i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS sh
  FROM toks
),
sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id)
"""


# winnowing (k=8, w=4): md5 of every 8-char gram, then each full
# 4-window's minimum (rows i <= n - 3) — the exploded form of
# dedup._winnow_minima
_WINNOW_CTE = """grams AS (
  SELECT doc_id,
         CAST(unnest(range(1, greatest(length(text) - 6, 1))) AS INTEGER) AS i,
         md5(substr(text, CAST(unnest(range(1, greatest(length(text) - 6, 1))) AS INTEGER), 8)) AS h
  FROM documents
),
minima AS (
  SELECT doc_id, i,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
         max(i) OVER (PARTITION BY doc_id) AS n
  FROM grams
)"""


def _jaccard_select(pair_src: str, threshold: float) -> str:
    return f"""
common AS (
  SELECT id_a, id_b, count(*) AS common
  FROM {pair_src}
  GROUP BY id_a, id_b
)
SELECT id_a, id_b,
       round(common / (sa.n_sh + sb.n_sh - common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE round(common / (sa.n_sh + sb.n_sh - common), 6) >= {threshold}
"""


def _minhash_sql(threshold: float = 0.5) -> str:
    # double-hashing MinHash (Kirsch-Mitzenmacher): g_i = (a + i*b)
    # mod 2^60 over two 60-bit md5-prefix hashes — identical
    # arithmetic to operators/dedup._band_buckets_expr (DuckDB's
    # ('0x'||hex)::BIGINT ≡ Spark's conv(hex,16,10), verified)
    num_hashes, bands = DEFAULT_NUM_HASHES, DEFAULT_BANDS
    r = num_hashes // bands
    mod = 1 << 60

    def g(i: int) -> str:
        return (
            f"((('0x' || substr(md5('h1|' || x), 1, 15))::BIGINT"
            f" + {i} * ('0x' || substr(md5('h2|' || x), 1, 15))::BIGINT)"
            f" % {mod})"
        )

    sig_cols = ", ".join(
        f"list_min(list_transform(sh_arr, x -> {g(i)})) AS sig{i}"
        for i in range(num_hashes)
    )
    band_rows = " UNION ALL ".join(
        "SELECT id, {b} AS band, md5({expr}) AS bucket FROM sig".format(
            b=b,
            expr=" || '|' || ".join(
                f"CAST(sig{b * r + j} AS VARCHAR)" for j in range(r)
            ),
        )
        for b in range(bands)
    )
    return f"""
WITH arr AS (
  SELECT doc_id AS id,
         list_distinct(list_transform(
           range(len({_TOKS}) - 2),
           i -> {_TOKS}[i+1] || ' ' || {_TOKS}[i+2] || ' ' || {_TOKS}[i+3]
         )) AS sh_arr
  FROM documents
),
sized AS (SELECT id, sh_arr, len(sh_arr) AS n_sh FROM arr),
sig AS (SELECT id, {sig_cols} FROM arr),
buckets AS ({band_rows}),
counts AS (SELECT band, bucket, count(*) AS n FROM buckets GROUP BY 1, 2),
bounded AS (
  SELECT b.id, b.band, b.bucket FROM buckets b
  JOIN counts c USING (band, bucket) WHERE c.n <= {LSH_MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bounded a JOIN bounded b USING (band, bucket)
  WHERE a.id < b.id
),
verified AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(sa.sh_arr, sb.sh_arr)) AS common,
         sa.n_sh AS n_a, sb.n_sh AS n_b
  FROM cand c
  JOIN sized sa ON sa.id = c.id_a
  JOIN sized sb ON sb.id = c.id_b
)
SELECT id_a, id_b,
       round(common / (n_a + n_b - common), 6) AS jaccard
FROM verified
WHERE round(common / (n_a + n_b - common), 6) >= {threshold}
"""


def _simhash_sql() -> str:
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id AS id, unnest({_TOKS}) AS tok FROM documents
),
h AS (SELECT id, md5(tok) AS h FROM toks),
kk AS (SELECT id, h, unnest(range(1, 17)) AS k FROM h),
d AS (
  SELECT id, k, strpos('0123456789abcdef', substr(h, CAST(k AS INTEGER), 1)) - 1 AS d
  FROM kk
),
b AS (SELECT id, k, unnest(range(0, 4)) AS m, d FROM d),
c AS (
  SELECT id, k, m,
         (CAST(floor(d / power(2, m)) AS BIGINT) % 2) * 2 - 1 AS contrib
  FROM b
),
v AS (SELECT id, k, m, sum(contrib) AS s FROM c GROUP BY 1, 2, 3),
dg AS (
  SELECT id, k,
         CAST(sum((CASE WHEN s > 0 THEN 1 ELSE 0 END)
                  * CAST(power(2, m) AS INTEGER)) AS INTEGER) AS dig
  FROM v GROUP BY 1, 2
),
ch AS (SELECT id, k, substr('0123456789abcdef', dig + 1, 1) AS c FROM dg)
SELECT id, string_agg(c, '' ORDER BY k) AS simhash FROM ch GROUP BY id
"""


def _stop_count(lang: str) -> str:
    pat = r"\b(" + "|".join(STOPWORDS[lang]) + r")\b"
    return f"CAST(len(regexp_extract_all(text, '{pat}')) AS INTEGER)"


def _lang_id_sql() -> str:
    scores = ", ".join(f"{_stop_count(lang)} AS {lang}" for lang in LANG_PRIORITY)
    best = "greatest(0, " + ", ".join(LANG_PRIORITY) + ")"
    whens = "\n  ".join(
        f"WHEN {lang} = {best} THEN '{lang}'" for lang in LANG_PRIORITY
    )
    return f"""
WITH s AS (SELECT doc_id, text, {scores} FROM documents)
SELECT doc_id, CASE
  WHEN len(regexp_extract_all(text, '[一-鿿]')) > 0 THEN 'zh'
  WHEN {best} = 0 THEN 'und'
  {whens}
  ELSE 'und' END AS pred_lang
FROM s
"""


def _quality_sql() -> str:
    stop = " + ".join(_stop_count(lang) for lang in LANG_PRIORITY)
    return f"""
WITH t AS (
  SELECT doc_id,
         CAST(len({_TOKS}) AS DOUBLE) AS n_tok,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST({stop} AS DOUBLE) AS stop
  FROM documents
)
SELECT doc_id,
  round(
    0.4 * (CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 1.0 ELSE 0.0 END)
    + 0.3 * (CASE WHEN ((n_chars - (n_tok - 1.0)) / n_tok) >= 2.0
                   AND ((n_chars - (n_tok - 1.0)) / n_tok) <= 12.0
              THEN 1.0 ELSE 0.0 END)
    + 0.3 * least(1.0, (stop / n_tok) * 4),
  6) AS quality
FROM t
"""


_DOT_QE = S.dot_sql("q_emb", "e.embedding")
_NORM_Q = S.norm_sql("q_emb")
_NORM_E = S.norm_sql("e.embedding")
_DOT_AB = S.dot_sql("a.embedding", "b.embedding")
_NORM_A = S.norm_sql("a.embedding")
_NORM_B = S.norm_sql("b.embedding")

_FP_SQL = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"


def _ivf_seeded_sql(n_probe: int) -> str:
    """Seeded-IVF oracle (mirrors S.ivf_topk_seeded at its defaults):
    cell = argmin L2 to the first 16 vectors, probe the ``n_probe``
    nearest cells for each of the first 10 queries, exact cosine top 3
    inside them."""
    return f"""
WITH seeds AS (
  SELECT vec_id AS cell, embedding AS c_emb FROM embeddings WHERE vec_id < 16
),
d AS (
  SELECT e.vec_id, e.embedding, s.cell,
         {S.l2_sql("e.embedding", "s.c_emb")} AS dist
  FROM embeddings e CROSS JOIN seeds s
),
a AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cell ASC) AS rn
    FROM d) WHERE rn = 1
),
q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
qd AS (
  SELECT q.q_id, q.q_emb, s.cell,
         {S.l2_sql("q.q_emb", "s.c_emb")} AS dist
  FROM q CROSS JOIN seeds s
),
probed AS (
  SELECT q_id, q_emb, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY dist ASC, cell ASC) AS rn
    FROM qd) WHERE rn <= {n_probe}
),
cand AS (
  SELECT p.q_id, p.q_emb, a.vec_id, a.embedding
  FROM probed p JOIN a USING (cell) WHERE a.vec_id != p.q_id
),
sc AS (
  SELECT q_id, vec_id,
         round(({S.dot_sql("q_emb", "embedding")})
               / (({S.norm_sql("q_emb")}) * ({S.norm_sql("embedding")})), 6) AS sim
  FROM cand
),
r AS (
  SELECT q_id, vec_id, sim,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS INTEGER) AS rank
  FROM sc
)
SELECT q_id, vec_id, sim, rank FROM r WHERE rank <= 3
"""

_DOC_TOKENS_CTE = """
toks AS (
  SELECT doc_id,
         unnest(str_split(text, ' ')) AS word,
         CAST(unnest(range(len(str_split(text, ' ')))) AS INTEGER) AS pos
  FROM documents
)
"""

# ---------------------------------------------------------------------------
# Pipeline oracles: pure-Python reference execution materialized as
# parquet (ocr_spark/oracle_fixtures.py), aggregated/selected in SQL.
# The driver's correctness pass runs at sf0.01 (driver contract), so
# ORACLE_SQL embeds the paths of that tier; __spark_entry__.oracle_sql()
# materializes the files before returning these strings.
# ---------------------------------------------------------------------------

ORACLE_SF = 0.01
ORACLE_SF_DIR = "/root/testdata/sf0.01"


def pipeline_oracle_overrides(sf: float, sf_dir: str) -> dict[str, str]:
    """The sf-dependent oracle entries for one scale tier. ORACLE_SQL
    takes them at the driver tier (sf0.01); the in-repo suite
    re-targets them to re-verify the same parity at sf0.1, 10× scale
    (caller must run oracle_fixtures.ensure_oracle_fixtures(sf, sf_dir)
    first)."""
    xt = oracle_path(extract_oracle_name(sf))
    xd = oracle_path(docextract_oracle_name(sf_dir))
    fld = oracle_path(fields_oracle_name(sf))
    tp = _transcripts_fixture_file(sf)
    return {
        "extract_transcripts": f"SELECT * FROM read_parquet('{xt}')",
        "extract_documents": f"SELECT * FROM read_parquet('{xd}')",
        "extract_fields": f"SELECT * FROM read_parquet('{fld}')",
        "transaction_pivot": _transaction_pivot_sql(fld),
        "conv_rollup": _conv_rollup_sql(tp),
        "sft_pairs": _sft_pairs_sql(tp),
        "transcript_lint": _transcript_lint_sql(tp),
        "conv_dedup": _conv_dedup_sql(tp),
    }


def _transcript_lint_sql(transcripts_path: str) -> str:
    """DuckDB twin of conversation.transcript_lint — same total
    ordering (turn_idx, ts, role, text), same integer counts."""
    return f"""
WITH s AS (
  SELECT conv_id, turn_idx, role, tool, ts, trim(text) AS t,
    lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx, ts, role, text) AS prev_ts,
    lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx, ts, role, text) AS prev_role
  FROM read_parquet('{transcripts_path}')
)
SELECT conv_id,
  count(*) AS n_turns,
  CAST(count(*) - count(DISTINCT turn_idx) AS BIGINT) AS dup_idx,
  (max(turn_idx) = count(*) - 1 AND min(turn_idx) = 0
   AND count(DISTINCT turn_idx) = count(*)) AS idx_contiguous,
  CAST(sum(CASE WHEN ts < prev_ts THEN 1 ELSE 0 END) AS BIGINT) AS ts_regressions,
  CAST(sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END) AS BIGINT) AS role_repeats,
  CAST(sum(CASE WHEN role = 'tool' AND tool IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS tool_missing,
  CAST(sum(CASE WHEN t = '' THEN 1 ELSE 0 END) AS BIGINT) AS empty_turns
FROM s GROUP BY conv_id
"""


def _conv_dedup_sql(transcripts_path: str) -> str:
    """DuckDB twin of conversation.conv_dedup — string_agg ORDER BY
    (turn_idx, text) ≡ Spark's array_sort(struct(turn_idx, text));
    text coalesced to '' on both engines (NULL-turn contract, see
    conv_dedup docstring)."""
    return f"""
WITH pc AS (
  SELECT conv_id,
    md5(string_agg(coalesce(text, ''), chr(31)
        ORDER BY turn_idx, coalesce(text, ''))) AS conv_fp,
    count(*) AS n_turns
  FROM read_parquet('{transcripts_path}') GROUP BY conv_id
)
SELECT conv_id, conv_fp, n_turns,
  count(*) OVER (PARTITION BY conv_fp) AS n_dup_convs,
  conv_id = min(conv_id) OVER (PARTITION BY conv_fp) AS is_keeper
FROM pc
"""


def _transaction_pivot_sql(fields_path: str) -> str:
    value_fields = [f for f in FIELD_NAMES if f != "category"]
    firsts = ",\n  ".join(
        f"first({f} ORDER BY turn_idx) FILTER (WHERE {f} IS NOT NULL) AS {f}"
        for f in value_fields
    )
    slots = ",\n  ".join(
        f"max(CASE WHEN category = 'Weighbridge' AND wb_seq = {rank} "
        f"THEN {c} END) AS {prefix}_{c}"
        for rank, prefix in ((1, "loading"), (2, "unloading"))
        for c in WEIGHBRIDGE_SLOT_FIELDS
    )
    return f"""
WITH f AS (SELECT * FROM read_parquet('{fields_path}')),
staged AS (
  SELECT *, sum(CASE WHEN category = 'Weighbridge' THEN 1 ELSE 0 END) OVER (
      PARTITION BY conv_id ORDER BY turn_idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wb_seq
  FROM f)
SELECT conv_id,
  CAST(count(*) AS INTEGER) AS n_docs,
  CAST(sum(CASE WHEN category = 'Weighbridge' THEN 1 ELSE 0 END) AS INTEGER)
      AS n_weighbridge,
  first(category ORDER BY turn_idx) AS category,
  {firsts},
  {slots}
FROM staged GROUP BY conv_id
"""


def _sft_pairs_sql(transcripts_path: str) -> str:
    return f"""
WITH lagged AS (
  SELECT conv_id, turn_idx, role, text,
         lag(role) OVER w AS prev_role,
         lag(text) OVER w AS prev_text,
         lag(turn_idx) OVER w AS prev_idx
  FROM read_parquet('{transcripts_path}')
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx ASC)
)
SELECT conv_id,
       prev_idx AS prompt_turn_idx,
       turn_idx AS response_turn_idx,
       prev_text AS prompt,
       text AS response
FROM lagged
WHERE role = 'assistant' AND prev_role = 'user'
"""


def _conv_rollup_sql(transcripts_path: str) -> str:
    return f"""
SELECT conv_id,
  CAST(count(*) AS INTEGER) AS n_turns,
  CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS INTEGER) AS n_user,
  CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS INTEGER) AS n_assistant,
  CAST(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS INTEGER) AS n_tool,
  arg_min(role, turn_idx) AS first_role,
  arg_max(role, turn_idx) AS last_role,
  CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM read_parquet('{transcripts_path}')
GROUP BY conv_id
"""


# sha256-hex byte extraction (DuckDB has no hex→int cast that is also
# available as a blob index): byte k = two hex chars → strpos arithmetic
def _sha_byte(col: str, k: int) -> str:
    h = "0123456789abcdef"
    return (
        f"((strpos('{h}', substr({col}, {2 * k + 1}, 1)) - 1) * 16"
        f" + (strpos('{h}', substr({col}, {2 * k + 2}, 1)) - 1))"
    )


def _multimodal_features_sql() -> str:
    return f"""
WITH d AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN 'image/png'
         WHEN doc_id % 3 = 1 THEN 'audio/wav'
         ELSE 'video/mp4' END AS media_type,
    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
    sha256(text) AS sh,
    md5(text) AS checksum
  FROM documents
)
SELECT doc_id, media_type, n_bytes,
  CAST(64 + {_sha_byte("sh", 0)} % 192 AS INTEGER) AS width,
  CAST(64 + {_sha_byte("sh", 1)} % 192 AS INTEGER) AS height,
  checksum
FROM d
"""


def _multimodal_resize_sql() -> str:
    return f"""
WITH d AS (
  SELECT doc_id, sha256(text) AS sh FROM documents WHERE doc_id % 3 = 0
),
wh AS (
  SELECT doc_id,
    64 + {_sha_byte("sh", 0)} % 192 AS w,
    64 + {_sha_byte("sh", 1)} % 192 AS h
  FROM d
),
r AS (
  SELECT doc_id, w, h,
    greatest(1, CAST(floor(w * least(1.0, 64.0 / greatest(w, h))) AS INTEGER)) AS rw,
    greatest(1, CAST(floor(h * least(1.0, 64.0 / greatest(w, h))) AS INTEGER)) AS rh
  FROM wh
)
SELECT doc_id,
  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
  rw AS resized_width, rh AS resized_height,
  greatest(1, CAST(floor((rw * rh) / 64.0) AS INTEGER)) AS thumb_len
FROM r
"""


def _multimodal_frames_sql() -> str:
    return """
WITH v AS (
  SELECT doc_id, text,
         greatest(1, CAST(floor(length(text) / 4.0) AS INTEGER)) AS step
  FROM documents WHERE doc_id % 3 = 2
),
f AS (
  SELECT doc_id, text, step,
         CAST(unnest(range(4)) AS INTEGER) AS frame_idx
  FROM v
)
SELECT doc_id, frame_idx,
  md5(CASE WHEN frame_idx * step >= length(text) THEN text
           ELSE substr(text, frame_idx * step + 1, step) END) AS frame_checksum
FROM f
"""

ORACLE_SQL: dict[str, str] = {
    "q1_pricing_summary": f"""
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(15,4))) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_base_price,
  CAST(sum({_REV_TERM}) AS DOUBLE) AS sum_disc_price,
  count(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
    "q3_top_orders": f"""
WITH rev AS (
  SELECT o_orderkey, o_orderdate, CAST(sum({_REV_TERM}) AS DOUBLE) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
  GROUP BY 1, 2
)
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate, revenue
FROM rev ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
""",
    "q5_region_revenue": f"""
SELECT r_name,
  CAST(sum({_REV_TERM}) AS DOUBLE) AS revenue,
  count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
    "mode_event_type": """
WITH c AS (
  SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2
),
r AS (
  SELECT user_id, event_type, n,
         row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type ASC) AS rn
  FROM c
)
SELECT user_id, event_type AS mode_event_type, n FROM r WHERE rn = 1
""",
    # reference tie semantics (App.jsx:496-544): a tie for the top
    # count yields NULL instead of a picked winner
    "mode_event_type_ties_null": """
WITH c AS (
  SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2
),
m AS (
  SELECT user_id, event_type, n,
         max(n) OVER (PARTITION BY user_id) AS max_n
  FROM c
)
SELECT user_id,
       CASE WHEN count(*) = 1 THEN min(event_type) END AS mode_event_type,
       max(n) AS n
FROM m WHERE n = max_n GROUP BY user_id
""",
    "argmax_event": """
WITH r AS (
  SELECT user_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
  FROM events
)
SELECT user_id, event_type AS top_event_type, round(value, 6) AS top_value
FROM r WHERE rn = 1
""",
    "latest_event": """
SELECT user_id, strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS latest_ts
FROM events GROUP BY user_id
""",
    "event_type_pivot": """
SELECT user_id,
  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
FROM events GROUP BY user_id
""",
    "progress_ratio": """
SELECT user_id,
  round(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) / count(*), 6) AS click_ratio
FROM events GROUP BY user_id
""",
    "paginate_events": """
WITH r AS (
  SELECT event_id, user_id, event_type,
         row_number() OVER (ORDER BY event_id ASC) AS rn
  FROM events
)
SELECT event_id, user_id, event_type FROM r WHERE rn > 100 AND rn <= 110
""",
    "paginate_events_keyset": """
SELECT event_id, user_id, event_type
FROM events WHERE event_id > 100
ORDER BY event_id ASC LIMIT 10
""",
    "distinct_user_types": """
SELECT DISTINCT user_id, event_type FROM events
""",
    "events_per_day": """
SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_events
FROM events GROUP BY 1
""",
    "props_sum": r"""
WITH k AS (
  SELECT user_id,
         CAST(NULLIF(regexp_extract(props, '"k":\s*(\d+)', 1), '') AS INTEGER) AS k
  FROM events
)
SELECT user_id, CAST(sum(k) AS BIGINT) AS k_sum, count(k) AS k_n
FROM k GROUP BY user_id
""",
    "w2_label_next": f"""
WITH {_DOC_TOKENS_CTE},
led AS (
  SELECT doc_id, pos, word,
         lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
  FROM toks
),
m AS (
  SELECT doc_id, nxt,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
  FROM led WHERE word = 'customer'
)
SELECT doc_id, nxt AS next_word FROM m WHERE rn = 1 AND nxt IS NOT NULL
""",
    "w1_anchor_lookback": f"""
WITH {_DOC_TOKENS_CTE},
scanned AS (
  SELECT doc_id, pos, word,
         max(CASE WHEN word = 'table' THEN pos END) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING) AS back_pos
  FROM toks
),
a AS (
  SELECT doc_id, pos, back_pos,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
  FROM scanned WHERE word = 'spark'
)
SELECT doc_id, pos AS anchor_pos, CAST(back_pos AS INTEGER) AS back_pos
FROM a WHERE rn = 1 AND back_pos IS NOT NULL
""",
    "w3_label_offset2": f"""
WITH {_DOC_TOKENS_CTE},
led AS (
  SELECT doc_id, pos, word,
         lead(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS plus2
  FROM toks
),
m AS (
  SELECT doc_id, plus2,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
  FROM led WHERE word = 'group'
)
SELECT doc_id, plus2 AS value_at_2 FROM m WHERE rn = 1 AND plus2 IS NOT NULL
""",
    "w7_multi_pass": f"""
WITH {_DOC_TOKENS_CTE},
led AS (
  SELECT doc_id, pos, word,
         lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
  FROM toks
),
ah AS (
  SELECT doc_id, nxt AS after_hash FROM (
    SELECT doc_id, nxt, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
    FROM led WHERE word = 'hash' AND nxt IS NOT NULL) WHERE rn = 1
),
am AS (
  SELECT doc_id, nxt AS after_merge FROM (
    SELECT doc_id, nxt, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
    FROM led WHERE word = 'merge' AND nxt IS NOT NULL) WHERE rn = 1
),
ft AS (SELECT doc_id, word AS first_word FROM toks WHERE pos = 0)
SELECT ft.doc_id,
       coalesce(after_hash, after_merge, first_word) AS found,
       CASE WHEN after_hash IS NOT NULL THEN 1
            WHEN after_merge IS NOT NULL THEN 2
            ELSE 3 END AS pass_no
FROM ft
LEFT JOIN ah ON ah.doc_id = ft.doc_id
LEFT JOIN am ON am.doc_id = ft.doc_id
""",
    "orders_by_month": """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS total_price
FROM orders GROUP BY 1
""",
    "revenue_rollup": """
SELECT r_name, n_name,
       CAST(sum(CAST(l_quantity AS DECIMAL(15,4))) AS DOUBLE) AS sum_qty,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
    "revenue_cube": """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(15,4))) AS DOUBLE) AS sum_qty,
       count(*) AS n_items
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    "sessionize_events": """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                PARTITION BY user_id ORDER BY ts ASC, event_id ASC) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
s AS (
  SELECT user_id, event_id,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts ASC, event_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g
),
per AS (
  SELECT user_id, session_id, count(*) AS n_events
  FROM s GROUP BY 1, 2
)
SELECT user_id,
       CAST(max(session_id) + 1 AS INTEGER) AS n_sessions,
       max(n_events) AS max_session_events
FROM per GROUP BY user_id
""",
    # as-of join: identical cumulative-window formulation (the Spark
    # side has no native ASOF keyword; DuckDB does, but the window
    # formulation is the one whose tie-order is explicit)
    "asof_last_purchase": """
WITH s AS (
  SELECT event_id, user_id, event_type,
    last_value(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_event,
    round(last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS last_purchase_value
  FROM events
)
SELECT event_id, user_id, last_purchase_event, last_purchase_value
FROM s WHERE event_type = 'click'
""",
    "source_quota_sample": """
SELECT doc_id, source, rn FROM (
  SELECT doc_id, source,
         CAST(row_number() OVER (
           PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS INTEGER) AS rn
  FROM documents
) WHERE rn <= 10
""",
    # repetition signals: the Spark side is a zero-shuffle run-length
    # max over the sorted bigram array; this twin explodes + GROUP BY
    # counts — two different algorithms, same value
    "repetition_stats": r"""
WITH l AS (
  SELECT doc_id,
         round(1 - len(list_distinct(str_split(text, chr(10))))
                   / CAST(len(str_split(text, chr(10))) AS DOUBLE), 6) AS dup_line_frac
  FROM documents
),
t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(len(w) - 1), i -> w[i+1] || ' ' || w[i+2])) AS b
  FROM t
),
cnt AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
mx AS (SELECT doc_id, max(c) AS mc, sum(c) AS total FROM cnt GROUP BY 1)
SELECT l.doc_id, l.dup_line_frac,
       round(coalesce(mc / CAST(total AS DOUBLE), 0.0), 6) AS top_bigram_frac
FROM l LEFT JOIN mx USING (doc_id)
""",
    "format_tons": r"""
WITH k AS (
  SELECT user_id,
         CAST(NULLIF(regexp_extract(props, '"k":\s*(\d+)', 1), '') AS INTEGER) AS k
  FROM events
)
SELECT user_id, printf('%.3f Tons', max(k) / 1000.0) AS tons
FROM k GROUP BY user_id
""",
    "embedding_components": """
SELECT vec_id,
       CAST(unnest(range(4)) AS INTEGER) AS pos,
       round(CAST(unnest(embedding[1:4]) AS DOUBLE), 6) AS c
FROM embeddings WHERE vec_id < 20
""",
    "text_stats": f"""
SELECT doc_id,
  CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
  CAST(length(text) AS INTEGER) AS n_chars_actual
FROM documents
""",
    "token_estimate": r"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS INTEGER) AS n_words,
         CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS INTEGER) AS word_chars,
         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS INTEGER) AS n_punct
  FROM documents
)
SELECT doc_id,
       CAST(n_words + CAST(floor((greatest(word_chars - n_words * 4, 0) + 3) / 4) AS INTEGER)
            + n_punct AS INTEGER) AS n_bpe_tokens
FROM t
""",
    "lang_id_docs": _lang_id_sql(),
    "quality_score_docs": _quality_sql(),
    # cleaning chain: same lang/quality/fingerprint expressions
    # composed as CTEs + a window-min keeper, gates as predicates
    "corpus_filter": f"""
WITH l AS ({_lang_id_sql()}),
q AS ({_quality_sql()}),
f AS (SELECT doc_id, {_FP_SQL} AS fp FROM documents),
k AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS keeper FROM f)
SELECT l.doc_id, l.pred_lang, q.quality
FROM l
JOIN q USING (doc_id)
JOIN k USING (doc_id)
WHERE k.keeper = l.doc_id AND l.pred_lang = 'en' AND q.quality >= 0.7
""",
    "fingerprint_docs": f"SELECT doc_id, {_FP_SQL} AS fp FROM documents",
    "dedup_exact_docs": f"""
SELECT {_FP_SQL} AS fp, min(doc_id) AS keeper, count(*) AS n_dups
FROM documents GROUP BY 1
""",
    # posting cap mirrors ngram_jaccard_pairs' max_postings=256 (skew
    # guard on the inverted-index join; set sizes stay exact)
    "ngram_jaccard": f"""
WITH {_SHINGLE_CTE},
postings AS (SELECT sh, count(*) AS p FROM sh GROUP BY sh),
bounded AS (
  SELECT s.id, s.sh FROM sh s JOIN postings USING (sh) WHERE p <= 256
),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM bounded a JOIN bounded b USING (sh)
  WHERE a.id < b.id
),
{_jaccard_select("pairs", 0.5)}
""",
    "minhash_lsh": _minhash_sql(),
    "simhash_docs": _simhash_sql(),
    # duplicate clusters: reachability closure over the same LSH pair
    # graph (recursive CTE; UNION-dedup terminates it), component =
    # min reachable id — identical semantics to the Spark min-label
    # propagation loop
    "dedup_components": f"""
WITH RECURSIVE
mp AS (SELECT id_a, id_b FROM ({_minhash_sql()})),
edges AS (SELECT id_a AS src, id_b AS dst FROM mp
          UNION SELECT id_b, id_a FROM mp),
reach AS (
  SELECT doc_id AS id, doc_id AS root FROM documents
  UNION
  SELECT e.dst AS id, r.root AS root FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id AS doc_id, CAST(min(root) AS BIGINT) AS component,
       id = min(root) AS is_keeper
FROM reach GROUP BY id
""",
    "knn_topk": f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10
),
s AS (
  SELECT q.q_id, e.vec_id,
         round(({_DOT_QE}) / (({_NORM_Q}) * ({_NORM_E})), 6) AS sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != q.q_id
),
r AS (
  SELECT q_id, vec_id, sim,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS INTEGER) AS rank
  FROM s
)
SELECT q_id, vec_id, sim, rank FROM r WHERE rank <= 3
""",
    "embedding_neardup": f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(({_DOT_AB}) / (({_NORM_A}) * ({_NORM_B})), 6) AS sim
FROM embeddings a CROSS JOIN embeddings b
WHERE a.vec_id < b.vec_id
  AND round(({_DOT_AB}) / (({_NORM_A}) * ({_NORM_B})), 6) >= 0.4
""",
    "embedding_neardup_lsh": S.neardup_lsh_sql(threshold=0.3),
    # semantic decontamination: eval pool broadcast-joined to the
    # corpus, max over rounded sims (fold-order-free)
    "semantic_decontaminate": f"""
WITH ev AS (
  SELECT vec_id AS e_id, embedding AS e_emb FROM embeddings WHERE vec_id < 20
),
s AS (
  SELECT c.vec_id,
         round(({S.dot_sql("q.e_emb", "c.embedding")})
               / (({S.norm_sql("q.e_emb")}) * ({S.norm_sql("c.embedding")})), 6) AS sim
  FROM embeddings c CROSS JOIN ev q
  WHERE c.vec_id >= 20
)
SELECT vec_id, max(sim) AS max_eval_sim, max(sim) >= 0.4 AS contaminated
FROM s GROUP BY vec_id
""",
    # filtered vector search: the lang predicate applies BEFORE any
    # distance work (semi-join on id), same sim chain as knn_topk
    "filtered_knn": f"""
WITH allowed AS (SELECT doc_id AS vec_id FROM documents WHERE lang = 'en'),
q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10
),
s AS (
  SELECT q.q_id, c.vec_id,
         round(({S.dot_sql("q.q_emb", "c.embedding")})
               / (({S.norm_sql("q.q_emb")}) * ({S.norm_sql("c.embedding")})), 6) AS sim
  FROM embeddings c JOIN allowed USING (vec_id) CROSS JOIN q
  WHERE c.vec_id != q.q_id
),
r AS (
  SELECT q_id, vec_id, sim,
    CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS INTEGER) AS rank
  FROM s
)
SELECT q_id, vec_id, sim, rank FROM r WHERE rank <= 3
""",
    # skew diagnostic: integer counts + a deterministic "key:count"
    # serialization (order by count desc, key-string asc with the NULL
    # key first on both sides); a NULL key is listed as 'null=count',
    # which no 'key:count' entry can equal (see skew_report docstring)
    "skew_report": """
WITH c AS (SELECT user_id AS k, count(*) AS c FROM events GROUP BY 1),
top AS (SELECT CAST(k AS VARCHAR) AS ks, c FROM c
        ORDER BY c DESC, CAST(k AS VARCHAR) ASC NULLS FIRST LIMIT 5)
SELECT 'user_id' AS key_col,
  (SELECT CAST(sum(c) AS BIGINT) FROM c) AS n_rows,
  (SELECT count(*) FROM c) AS n_keys,
  (SELECT max(c) FROM c) AS max_count,
  (SELECT string_agg(CASE WHEN ks IS NULL THEN 'null=' || CAST(c AS VARCHAR)
                          ELSE ks || ':' || CAST(c AS VARCHAR) END, ','
                     ORDER BY c DESC, ks ASC NULLS FIRST) FROM top) AS top_keys
""",
    # kNN label propagation: same sim chain, neighbor ties on vec_id,
    # vote ties on the smaller label
    "knn_label_propagation": f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 30
),
s AS (
  SELECT q.q_id, c.vec_id, c.label,
         round(({S.dot_sql("q.q_emb", "c.embedding")})
               / (({S.norm_sql("q.q_emb")}) * ({S.norm_sql("c.embedding")})), 6) AS sim
  FROM embeddings c CROSS JOIN q
  WHERE c.vec_id >= 30
),
r AS (
  SELECT q_id, label,
    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rk
  FROM s
),
v AS (SELECT q_id, label, count(*) AS votes FROM r WHERE rk <= 5 GROUP BY 1, 2),
p AS (
  SELECT q_id, label, votes,
    row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, label ASC) AS pr
  FROM v
)
SELECT q_id AS vec_id, label AS predicted_label, CAST(votes AS BIGINT) AS votes
FROM p WHERE pr = 1
""",
    # seeded IVF: identical algorithm both engines (cell = argmin over
    # the first-16-vector centroids, same fold order). 'ivf_topk' is
    # the same quantizer at probe width 6.
    "ivf_topk": _ivf_seeded_sql(n_probe=6),
    "ivf_topk_seeded": _ivf_seeded_sql(n_probe=4),
    "label_centroids": """
SELECT label, count(*) AS n,
  round(CAST(sum(CAST(CAST(embedding[1] AS DOUBLE) AS DECIMAL(25,9))) AS DOUBLE)
        / count(*), 6) AS centroid_c0
FROM embeddings GROUP BY label
""",
    "winnow_docs": f"""
WITH {_WINNOW_CTE}
SELECT doc_id, array_to_string(list_sort(list(DISTINCT wmin)), ',') AS fps
FROM minima WHERE i <= n - 3
GROUP BY doc_id
""",
    # passage-copy pairs: rare-fingerprint inverted index over the
    # same winnowing minima (posting cap = discriminative-fp filter)
    "winnow_overlap": f"""
WITH {_WINNOW_CTE},
fps AS (SELECT DISTINCT doc_id AS id, wmin AS fp FROM minima WHERE i <= n - 3),
counts AS (SELECT fp, count(*) AS c FROM fps GROUP BY fp),
bounded AS (SELECT f.id, f.fp FROM fps f JOIN counts USING (fp) WHERE c <= 4),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
  FROM bounded a JOIN bounded b USING (fp)
  WHERE a.id < b.id GROUP BY 1, 2
)
SELECT id_a, id_b, n_shared FROM pairs WHERE n_shared >= 3
""",
    "media_meta": """
SELECT doc_id,
  CASE WHEN doc_id % 3 = 0 THEN 'image/png'
       WHEN doc_id % 3 = 1 THEN 'audio/wav'
       ELSE 'video/mp4' END AS media_type,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  md5(text) AS checksum
FROM documents
""",
    # pipeline oracles: pure-Python reference run (oracle_fixtures.py)
    # selected/aggregated in SQL — Spark's Arrow batching, projection,
    # and aggregation plans vs an independent single-threaded execution
    # (extract_*, transaction_pivot); the conversation ops are plain
    # SQL over the same transcripts parquet the Spark side reads
    **pipeline_oracle_overrides(ORACLE_SF, ORACLE_SF_DIR),
    # chunking: range(0, n, stride) starts + list slices — mirrors
    # chunk_structs (tail chunks shorter than the window are kept)
    "chunk_docs": r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
),
s AS (
  SELECT doc_id, w, CAST(unnest(range(0, len(w), 20)) AS INTEGER) AS start
  FROM t
)
SELECT doc_id,
       start // 20 AS chunk_idx,
       array_to_string(w[start + 1 : start + 40], ' ') AS chunk_text,
       CAST(least(40, len(w) - start) AS INTEGER) AS n_tokens
FROM s
""",
    # multimodal: the deterministic decode stub is sha256/md5-derived,
    # so the oracle recomputes it natively in SQL
    "multimodal_features": _multimodal_features_sql(),
    "multimodal_resize": _multimodal_resize_sql(),
    "multimodal_frames": _multimodal_frames_sql(),
    # --- corpus-level training-data ops (operators/corpus.py) ---
    # decontamination: eval slice = doc_id % 41 == 0; same distinct
    # word-3-gram shingles as the dedup family
    "decontaminate_docs": f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS w FROM documents),
sh AS (
  SELECT doc_id, list_distinct(list_transform(
    range(len(w) - 2), i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS shs
  FROM toks
),
ev AS (
  SELECT list_distinct(flatten(list(shs))) AS ev_sh
  FROM sh WHERE doc_id % 41 = 0
)
SELECT doc_id,
  CAST(len(list_intersect(shs, ev_sh)) AS BIGINT) AS n_eval_shingles,
  CASE WHEN len(list_intersect(shs, ev_sh)) > 0 THEN 1 ELSE 0 END AS contaminated
FROM sh, ev
WHERE doc_id % 41 <> 0
""",
    # tf-idf with ratio idf (tf * (N/df)): exact-integer inputs, one
    # IEEE division + one multiplication -> bit-identical score
    "tfidf_top_terms": f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, tf.term, tf, dfreq, tf * (n_docs / dfreq) AS score
  FROM tf JOIN dfreq USING (term), n
)
SELECT doc_id, term, tf, dfreq, score, rn FROM (
  SELECT scored.*, CAST(row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term ASC) AS INTEGER) AS rn
  FROM scored
) WHERE rn <= 3
""",
    # exact histogram percentiles; integer rank arithmetic
    # (cum*10 >= p*10*total) -- no float thresholds
    "length_percentiles": f"""
WITH h AS (
  SELECT lang AS grp, len({_TOKS}) AS n, count(*) AS cnt
  FROM documents GROUP BY 1, 2
),
c AS (
  SELECT grp, n, cnt,
         sum(cnt) OVER (PARTITION BY grp ORDER BY n
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(cnt) OVER (PARTITION BY grp) AS total
  FROM h
)
SELECT grp AS lang,
  CAST(max(total) AS BIGINT) AS n_docs,
  min(CASE WHEN cum * 10 >= total * 5 THEN n END) AS p50_tokens,
  min(CASE WHEN cum * 10 >= total * 9 THEN n END) AS p90_tokens
FROM c GROUP BY grp
""",
    "vocab_stats": f"""
WITH toks AS (SELECT unnest({_TOKS}) AS term FROM documents),
c AS (SELECT term, count(*) AS c FROM toks GROUP BY 1)
SELECT CAST(sum(c) AS BIGINT) AS n_total_tokens,
       count(*) AS n_distinct_terms,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             / count(*), 6) AS hapax_frac
FROM c
""",
    # deterministic md5-byte split (train <230, val <243, test rest)
    "train_val_split": f"""
WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents),
b AS (SELECT doc_id, CAST({_sha_byte('m', 0)} AS INTEGER) AS bucket FROM h)
SELECT doc_id, bucket,
  CASE WHEN bucket < 230 THEN 'train'
       WHEN bucket < 243 THEN 'val'
       ELSE 'test' END AS split
FROM b
""",
    # PII scrub over the deterministically augmented text (see
    # _pii_augmented_text) -- patterns written to the Java-regex /
    # RE2 common subset; DuckDB regexp_replace needs the 'g' flag
    "pii_scrub": """
WITH aug AS (
  SELECT doc_id,
    text || CASE doc_id % 5
      WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com for details'
      WHEN 1 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                  || '-' || lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0')
                  || ' office'
      WHEN 2 THEN ' node 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) || ' up'
      ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(t, '""" + _PII_EMAIL + """')) AS INTEGER) AS n_emails,
  CAST(len(regexp_extract_all(t, '""" + _PII_PHONE + """')) AS INTEGER) AS n_phones,
  CAST(len(regexp_extract_all(t, '""" + _PII_IP + """')) AS INTEGER) AS n_ips,
  regexp_replace(regexp_replace(regexp_replace(t,
    '""" + _PII_EMAIL + """', '[EMAIL]', 'g'),
    '""" + _PII_PHONE + """', '[PHONE]', 'g'),
    '""" + _PII_IP + """', '[IP]', 'g') AS redacted
FROM aug
""",
    # per-source diagnostics: majority-lang tie -> lexicographic
    # (the A5 mode rule); ratios are single divisions of exact ints
    "source_stats": f"""
WITH pl AS (SELECT source, lang, count(*) AS cnt FROM documents GROUP BY 1, 2),
top AS (
  SELECT source, lang AS top_lang, cnt AS top_cnt FROM (
    SELECT pl.*, row_number() OVER (
      PARTITION BY source ORDER BY cnt DESC, lang ASC) AS rn FROM pl
  ) WHERE rn = 1
),
tot AS (
  SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
         count(DISTINCT {_FP_SQL}) AS n_unique_texts,
         sum(n_chars) AS sum_chars
  FROM documents GROUP BY 1
)
SELECT source, n_docs, n_langs, n_unique_texts, top_lang,
  round(top_cnt / n_docs, 6) AS top_lang_frac,
  round(sum_chars / n_docs, 6) AS avg_chars
FROM tot JOIN top USING (source)
""",
    # cross-source contamination matrix over word-3-gram shingles;
    # same per-doc-distinct shingles as the dedup family, posting
    # list bounded to 2..10 sources (the LSH max_bucket skew guard)
    "cross_source_overlap": f"""
WITH toks AS (SELECT source, {_TOKS} AS w FROM documents),
sh AS (
  SELECT DISTINCT source AS src, unnest(list_distinct(list_transform(
    range(len(w) - 2), i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS s
  FROM toks
),
b AS (
  SELECT src, s FROM (
    SELECT src, s, count(*) OVER (PARTITION BY s) AS n_src FROM sh
  ) WHERE n_src BETWEEN 2 AND 10
)
SELECT a.src AS source_a, b2.src AS source_b,
       count(*) AS n_shared_shingles
FROM b a JOIN b b2 USING (s)
WHERE a.src < b2.src GROUP BY 1, 2
""",
    # canonical (case/punct-insensitive) dedup: one shared regex in
    # the Java∩RE2∩DuckDB subset; DuckDB needs the 'g' flag
    "canonical_dedup": r"""
WITH k AS (
  SELECT doc_id,
    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS canon_fp
  FROM documents
)
SELECT doc_id, canon_fp,
  count(*) OVER (PARTITION BY canon_fp) AS n_variants,
  doc_id = min(doc_id) OVER (PARTITION BY canon_fp) AS is_keeper
FROM k
""",
    # A-ES weighted sampling via the max-of-w-uniforms identity: pure
    # md5 + integer compares, so ranks are exact on both engines
    "weighted_sample": """
WITH wts AS (
  SELECT doc_id, source,
    greatest(1, least(coalesce(CAST(1 + floor(length(text) / 512) AS INT), 1), 16)) AS weight
  FROM documents
),
keyed AS (
  SELECT doc_id, source, weight,
    list_max(list_transform(range(1, weight + 1),
      i -> ('0x' || substr(md5('wrs|' || CAST(doc_id AS VARCHAR) || '|' || CAST(i AS VARCHAR)), 1, 15))::BIGINT)) AS k
  FROM wts
),
r AS (
  SELECT doc_id, source, weight,
    CAST(row_number() OVER (PARTITION BY source ORDER BY k DESC, doc_id ASC) AS INT)
      AS sample_rank
  FROM keyed
)
SELECT doc_id, source, weight, sample_rank FROM r WHERE sample_rank <= 20
""",
    # clamp accounting on the same raw-weight derivation; the clamped
    # mass re-applies the sampler's own greatest/least expression
    "weighted_sample_clamp": """
WITH w AS (
  SELECT CAST(1 + floor(length(text) / 512) AS INT) AS w FROM documents
)
SELECT 'weighted_sample_max_weight' AS cap_name,
  CAST(16 AS INTEGER) AS cap_value,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CASE WHEN w > 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_high,
  CAST(sum(CASE WHEN w < 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_low,
  CAST(sum(CASE WHEN w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_weight,
  CAST(max(w) AS BIGINT) AS max_weight_seen,
  CAST(sum(w) AS BIGINT) AS weight_mass_raw,
  CAST(sum(greatest(1, least(coalesce(w, 1), 16))) AS BIGINT) AS weight_mass_clamped
FROM w
""",
    # same winnowing-fps CTE as winnow_overlap and the same shingle
    # postings CTE as cross_source_overlap, collapsed to the per-cap
    # drop summaries (integer counts — exact on both engines)
    "cap_drop_accounting": f"""
WITH {_WINNOW_CTE},
fps AS (SELECT DISTINCT doc_id AS id, wmin AS fp FROM minima WHERE i <= n - 3),
wc AS (SELECT fp, count(*) AS c FROM fps GROUP BY fp),
toks AS (SELECT source, {_TOKS} AS w FROM documents),
sh AS (
  SELECT DISTINCT source AS src, unnest(list_distinct(list_transform(
    range(len(w) - 2), i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS s
  FROM toks
),
sc AS (SELECT s, count(*) AS c FROM sh GROUP BY s)
SELECT 'winnow_max_postings' AS cap_name, 4 AS cap_value,
  count(*) AS n_keys,
  CAST(sum(CASE WHEN c > 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_keys_dropped,
  CAST(sum(c) AS BIGINT) AS n_postings,
  CAST(sum(CASE WHEN c > 4 THEN c ELSE 0 END) AS BIGINT) AS n_postings_dropped
FROM wc
UNION ALL
SELECT 'cross_source_max_sources', 10, count(*),
  CAST(sum(CASE WHEN c > 10 THEN 1 ELSE 0 END) AS BIGINT),
  CAST(sum(c) AS BIGINT),
  CAST(sum(CASE WHEN c > 10 THEN c ELSE 0 END) AS BIGINT)
FROM sc
""",
    "quantize_embeddings": S.quantize_sql(),
    # CCNet-style boilerplate removal: non-overlapping 4-token
    # segments, corpus frequency > 4 docs -> dropped, text reassembled
    # in segment order (string_agg ORDER BY pos = array_sort on pos)
    "boilerplate_scrub": r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
),
s AS (
  SELECT doc_id, CAST(unnest(range(0, len(w), 4)) AS INTEGER) AS start, w
  FROM t
),
segs AS (
  SELECT doc_id, start // 4 AS pos,
         array_to_string(w[start + 1 : start + 4], ' ') AS seg
  FROM s
),
bp AS (
  SELECT seg FROM (
    SELECT seg, count(DISTINCT doc_id) AS nd FROM segs GROUP BY 1
  ) WHERE nd > 4
),
m AS (
  SELECT segs.doc_id, segs.pos, segs.seg, (bp.seg IS NOT NULL) AS is_bp
  FROM segs LEFT JOIN bp ON segs.seg = bp.seg
)
SELECT doc_id,
  coalesce(string_agg(seg, ' ' ORDER BY pos) FILTER (WHERE NOT is_bp), '')
    AS clean_text,
  count(*) FILTER (WHERE NOT is_bp) AS n_seg_kept,
  count(*) FILTER (WHERE is_bp) AS n_seg_dropped
FROM m GROUP BY doc_id
""",
    # concat-and-split packing: per-source running token total, bins of
    # 256; all integer arithmetic (// and % on exact counts)
    "pack_sequences": r"""
WITH t AS (
  SELECT source, doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           AS n_tokens
  FROM documents
),
c AS (
  SELECT *, CAST(sum(n_tokens) OVER (
    PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING
  ) AS BIGINT) AS cum FROM t
)
SELECT source, doc_id, n_tokens,
  (cum - n_tokens) // 256 AS bin_id,
  (cum - n_tokens) % 256 AS bin_offset,
  (cum - 1) // 256 - (cum - n_tokens) // 256 + 1 AS n_bins
FROM c
""",
    # character-class profile via global-replace length deltas; the
    # whitespace class is spelled out (Java \s != RE2 \s at \x0B)
    "script_profile": r"""
WITH c AS (
  SELECT doc_id, len(text) AS n,
    len(text) - len(regexp_replace(text, '[A-Za-z]', '', 'g')) AS lat,
    len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS dig,
    len(text) - len(regexp_replace(text, '[ ' || chr(9) || chr(10) || chr(13) || ']', '', 'g')) AS spc
  FROM documents
)
SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
  round(lat / n, 6) AS latin_frac,
  round(dig / n, 6) AS digit_frac,
  round(spc / n, 6) AS space_frac,
  round((n - lat - dig - spc) / n, 6) AS other_frac
FROM c
""",
    # temperature (alpha = 0.5) source mixing: sqrt is correctly
    # rounded IEEE (pow is not); the normalizer is a left fold in
    # sorted source order -> one evaluation order on both engines
    "source_mixture_weights": r"""
WITH s AS (
  SELECT source,
         CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY 1
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM s),
r AS (SELECT source, n_tokens, sqrt(n_tokens / t) AS wr FROM s, tot),
z AS (SELECT list_reduce(list(wr ORDER BY source), (a, b) -> a + b) AS z FROM r)
SELECT source, n_tokens,
  round(n_tokens / t, 6) AS p_raw,
  round(wr / z, 6) AS weight,
  round((wr / z) / (n_tokens / t), 6) AS sample_mult
FROM r, tot, z
""",
    # corpus-LM commonness: exact long sum of per-occurrence document
    # frequencies, ONE division — no float fold, no transcendental
    "unigram_commonness": r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
),
tok AS (SELECT doc_id, unnest(w) AS t FROM toks),
dfreq AS (SELECT t, count(DISTINCT doc_id) AS dfc FROM tok GROUP BY 1),
nd AS (SELECT count(*) AS n FROM documents)
SELECT tok.doc_id,
  CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(sum(dfc) AS BIGINT) AS sum_df,
  round(CAST(sum(dfc) AS BIGINT) / (n * CAST(count(*) AS BIGINT)), 6)
    AS common_score
FROM tok JOIN dfreq USING (t) CROSS JOIN nd
GROUP BY tok.doc_id, nd.n
""",
}


def _hll_sql() -> str:
    """HLL oracle: same 32-bit md5 hash, same 256 registers, same
    scaled-integer harmonic sum, same single division with the SAME
    double constant (sketch.HLL_NUMERATOR repr round-trips exactly —
    it is a power-of-two scaling of one rounded literal)."""
    from ocr_spark.operators.sketch import HLL_M, HLL_MAXRANK, HLL_NUMERATOR

    m, maxr = HLL_M, HLL_MAXRANK
    return f"""
WITH h AS (
  SELECT l_returnflag AS grp,
    ('0x' || substr(md5('hll|' || CAST(l_orderkey AS VARCHAR)), 1, 8))::BIGINT AS h32
  FROM lineitem WHERE l_orderkey IS NOT NULL
),
r AS (
  SELECT grp, h32 % {m} AS idx,
    CASE WHEN h32 // {m} = 0 THEN {maxr}
         ELSE {maxr} - length(bin(h32 // {m})) END AS r
  FROM h
),
regs AS (SELECT grp, idx, max(r) AS mr FROM r GROUP BY 1, 2),
a AS (
  SELECT grp, count(*) AS registers_used,
    CAST(sum(1::BIGINT << ({maxr} - mr)) AS BIGINT) AS s_present
  FROM regs GROUP BY 1
),
b AS (
  SELECT grp, registers_used,
    CAST({m} - registers_used AS BIGINT) AS zero_registers,
    s_present + ({m} - registers_used) * {1 << maxr} AS s_scaled
  FROM a
),
e AS (
  SELECT l_returnflag AS grp, count(DISTINCT l_orderkey) AS exact_distinct
  FROM lineitem GROUP BY 1
)
SELECT b.grp AS l_returnflag, registers_used, zero_registers, s_scaled,
  CAST(floor({HLL_NUMERATOR!r} / CAST(s_scaled AS DOUBLE)) AS BIGINT)
    AS est_distinct,
  exact_distinct,
  CAST(floor(
    abs(CAST(floor({HLL_NUMERATOR!r} / CAST(s_scaled AS DOUBLE)) AS BIGINT)
        - exact_distinct) * 10000.0 / exact_distinct) AS BIGINT) AS rel_err_bp
FROM b JOIN e ON b.grp = e.grp
"""


def _bloom_sql() -> str:
    """Bloom semi-join oracle: identical salted-md5 bit positions and
    32-bit-per-word masks; membership via LEFT JOINs to the word table
    (the relational form of the broadcast map lookup)."""
    from ocr_spark.operators.sketch import BLOOM_BITS

    nb = BLOOM_BITS
    pos = (
        "(('0x' || substr(md5('bf{i}|' || CAST({k} AS VARCHAR)), 1, 15))::BIGINT"
        f" % {nb})"
    )
    p0n, p1n = pos.format(i=0, k="key"), pos.format(i=1, k="key")
    p0f, p1f = pos.format(i=0, k="l_orderkey"), pos.format(i=1, k="l_orderkey")
    return f"""
WITH needles AS (
  SELECT DISTINCT o_orderkey AS key FROM orders
  WHERE o_orderpriority = '1-URGENT'
),
pos AS (
  SELECT {p0n} AS pos FROM needles
  UNION ALL
  SELECT {p1n} AS pos FROM needles
),
words AS (
  SELECT pos // 32 AS w,
    CAST(bit_or(1::BIGINT << CAST(pos % 32 AS INTEGER)) AS BIGINT) AS bits
  FROM pos GROUP BY 1
),
f AS (
  SELECT l_orderkey AS fk, {p0f} AS p0, {p1f} AS p1 FROM lineitem
),
probed AS (
  SELECT f.fk,
    (coalesce(w0.bits, 0) & (1::BIGINT << CAST(f.p0 % 32 AS INTEGER))) <> 0
      AND (coalesce(w1.bits, 0) & (1::BIGINT << CAST(f.p1 % 32 AS INTEGER))) <> 0
      AS cand,
    n.key IS NOT NULL AS is_true
  FROM f
  LEFT JOIN words w0 ON w0.w = f.p0 // 32
  LEFT JOIN words w1 ON w1.w = f.p1 // 32
  LEFT JOIN needles n ON n.key = f.fk
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_fact,
    CAST(sum(CASE WHEN cand THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
    CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true_matches,
    CAST(sum(CASE WHEN cand AND NOT is_true THEN 1 ELSE 0 END) AS BIGINT)
      AS n_false_pos
  FROM probed
)
SELECT n_fact, n_candidates, n_true_matches, n_false_pos,
  CASE WHEN n_fact = n_true_matches THEN 0
       ELSE CAST(floor(n_false_pos * 10000.0 / (n_fact - n_true_matches))
                 AS BIGINT) END AS fp_rate_bp
FROM s
"""


def _cms_sql() -> str:
    """Count-min oracle: identical salted-md5 counter columns; pure
    integer counts end to end, so parity needs no float rules at all."""
    from ocr_spark.operators.sketch import CMS_DEPTH, CMS_WIDTH

    col = (
        "(('0x' || substr(md5('cm' || i || '|' || CAST(item AS VARCHAR)), 1, 15))"
        f"::BIGINT % {CMS_WIDTH})"
    )
    return f"""
WITH rows_i AS (SELECT unnest(range(0, {CMS_DEPTH})) AS i),
items AS (SELECT l_partkey AS item FROM lineitem),
pairs AS (
  SELECT i AS row, {col} AS col FROM items CROSS JOIN rows_i
),
counters AS (
  SELECT row, col, CAST(count(*) AS BIGINT) AS c FROM pairs GROUP BY 1, 2
),
exact AS (
  SELECT l_partkey AS item, CAST(count(*) AS BIGINT) AS exact_count
  FROM lineitem GROUP BY 1
),
probes AS (
  SELECT item, exact_count FROM (
    SELECT item, exact_count,
      row_number() OVER (ORDER BY exact_count DESC, item) AS rn
    FROM exact
  ) WHERE rn <= 20
),
lookups AS (
  SELECT item, exact_count, i AS row, {col} AS col
  FROM probes CROSS JOIN rows_i
),
est AS (
  SELECT item, exact_count, min(c) AS est_count
  FROM lookups JOIN counters USING (row, col) GROUP BY 1, 2
)
SELECT item AS l_partkey, est_count, exact_count,
  est_count - exact_count AS overestimate
FROM est
"""


ORACLE_SQL["hll_distinct"] = _hll_sql()
ORACLE_SQL["bloom_semijoin"] = _bloom_sql()
ORACLE_SQL["cms_frequencies"] = _cms_sql()

# salting never changes join semantics, so the oracle is the PLAIN join
ORACLE_SQL["salted_join_revenue"] = f"""
SELECT p_type,
  CAST(sum({_REV_TERM}) AS DOUBLE) AS revenue,
  count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_type
"""

ORACLE_SQL["snapshot_diff"] = """
WITH old AS (SELECT doc_id, text, source FROM documents),
new AS (
  SELECT doc_id,
    CASE WHEN doc_id % 13 = 0 THEN text || ' [rev2]' ELSE text END AS text,
    source
  FROM documents WHERE doc_id % 11 <> 0
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, 'added:' || text AS text, source
  FROM documents WHERE doc_id % 17 = 0
),
o AS (SELECT doc_id AS id, source AS src_o, md5(text) AS fp_o FROM old),
n AS (SELECT doc_id AS id, source AS src_n, md5(text) AS fp_n FROM new),
j AS (
  SELECT coalesce(src_n, src_o) AS source,
    CASE WHEN fp_o IS NULL THEN 'added'
         WHEN fp_n IS NULL THEN 'removed'
         WHEN fp_o <> fp_n THEN 'changed'
         ELSE 'unchanged' END AS st
  FROM o FULL OUTER JOIN n USING (id)
)
SELECT source,
  CAST(sum(CASE WHEN st = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
  CAST(sum(CASE WHEN st = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
  CAST(sum(CASE WHEN st = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
  CAST(sum(CASE WHEN st = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
FROM j GROUP BY source
"""

# range join: binning never changes semantics (exact predicate re-runs
# on candidates), so the oracle is the PLAIN inequality join
ORACLE_SQL["clicks_before_purchase"] = """
WITH p AS (
  SELECT event_id, user_id, epoch_us(ts) AS p_us
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, epoch_us(ts) AS c_us FROM events WHERE event_type = 'click'
)
SELECT p.event_id, p.user_id,
       CAST(count(c.c_us) AS BIGINT) AS n_clicks_prev_hour
FROM p LEFT JOIN c
  ON c.user_id = p.user_id
 AND c.c_us >= p.p_us - 3600000000 AND c.c_us < p.p_us
GROUP BY 1, 2
"""

# duplicated-passage spans: same winnowing minima as winnow_docs, run-
# compressed to occurrence starts, diagonal (pa-pb) match grouping +
# gaps-and-islands — the exploded/window formulation of the Spark
# side's map-only signature stage
ORACLE_SQL["winnow_span_runs"] = f"""
WITH {_WINNOW_CTE},
rc AS (
  SELECT doc_id, i AS pos, wmin AS fp,
         lag(wmin) OVER (PARTITION BY doc_id ORDER BY i) AS prev
  FROM (SELECT doc_id, i, wmin FROM minima WHERE i <= n - 3)
),
occ AS (SELECT doc_id, pos, fp FROM rc WHERE prev IS NULL OR prev <> fp),
counts AS (SELECT fp, count(*) AS c FROM occ GROUP BY fp),
bounded AS (SELECT o.* FROM occ o JOIN counts USING (fp) WHERE c <= 4),
m AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa, b.pos AS pb,
         a.pos - b.pos AS diag
  FROM bounded a JOIN bounded b USING (fp) WHERE a.doc_id < b.doc_id
),
fl AS (
  SELECT *, CASE WHEN pa - lag(pa) OVER (PARTITION BY id_a, id_b, diag
                                         ORDER BY pa) > 8
            THEN 1 ELSE 0 END AS nf
  FROM m
),
isl AS (
  SELECT *, sum(nf) OVER (PARTITION BY id_a, id_b, diag ORDER BY pa
                          ROWS UNBOUNDED PRECEDING) AS island
  FROM fl
)
SELECT id_a, id_b, CAST(diag AS INTEGER) AS diag,
       CAST(count(*) AS BIGINT) AS n_fps,
       CAST(min(pa) AS INTEGER) AS a_start,
       CAST(max(pa) + 10 AS INTEGER) AS a_end,
       CAST(min(pb) AS INTEGER) AS b_start,
       CAST(max(pb) + 10 AS INTEGER) AS b_end
FROM isl GROUP BY id_a, id_b, diag, island
HAVING count(*) >= 3
"""

# cluster-representative selection: dedup_components' recursive-CTE
# closure + the quality CTE + a per-component argmax window
ORACLE_SQL["near_dedup_keep_best"] = f"""
WITH RECURSIVE
mp AS (SELECT id_a, id_b FROM ({_minhash_sql()})),
edges AS (SELECT id_a AS src, id_b AS dst FROM mp
          UNION SELECT id_b, id_a FROM mp),
reach AS (
  SELECT doc_id AS id, doc_id AS root FROM documents
  UNION
  SELECT e.dst AS id, r.root AS root FROM reach r JOIN edges e ON e.src = r.id
),
comp AS (
  SELECT id AS doc_id, CAST(min(root) AS BIGINT) AS component
  FROM reach GROUP BY id
),
q AS ({_quality_sql()}),
r AS (
  SELECT c.doc_id, c.component, q.quality,
         row_number() OVER (PARTITION BY component
                            ORDER BY quality DESC, c.doc_id ASC) AS rnk
  FROM comp c JOIN q USING (doc_id)
)
SELECT doc_id, component, quality, rnk = 1 AS is_best FROM r
"""

# deterministic mixture sampling: the source_mixture_weights CTE
# re-stated, then the SAME rounded-threshold Bernoulli draw — the
# binning/rounding rules make the double threshold bit-identical
ORACLE_SQL["materialize_mixture"] = r"""
WITH s AS (
  SELECT source,
         CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY 1
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM s),
r AS (SELECT source, n_tokens, sqrt(n_tokens / t) AS wr FROM s, tot),
z AS (SELECT list_reduce(list(wr ORDER BY source), (a, b) -> a + b) AS z FROM r),
w AS (
  -- inner round = the sample_mult column the Spark side consumes
  -- (already rounded to 6 dp); the 0.5 multiply is then EXACT in
  -- IEEE, so no outer round (which would mint 7th-decimal ties the
  -- engines break differently)
  SELECT source,
         least(1.0, 0.5 * round((wr / z) / (n_tokens / t), 6)) AS keep_rate
  FROM r, tot, z
)
SELECT d.doc_id, d.source, w.keep_rate,
       ('0x' || substr(md5('mix|' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
         < CAST(floor(keep_rate * 4294967296.0) AS BIGINT) AS is_kept
FROM documents d JOIN w USING (source)
"""

# rolling window: integer-cents sums are fold-order-free, so Spark's
# running frame and DuckDB's segment tree agree exactly
ORACLE_SQL["rolling_user_value"] = """
WITH e AS (
  SELECT event_id, user_id, ts, CAST(round(value * 100) AS BIGINT) AS c
  FROM events
)
SELECT event_id, user_id,
  CAST(sum(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT)
    AS roll_cents,
  CAST(count(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT)
    AS n_in_window
FROM e
"""

# semantic dedup: reachability closure over the SAME sign-LSH cosine
# pair graph the embedding_neardup_lsh oracle states
ORACLE_SQL["semantic_dedup"] = f"""
WITH RECURSIVE
np AS (SELECT id_a, id_b FROM ({ORACLE_SQL["embedding_neardup_lsh"]})),
edges AS (SELECT id_a AS src, id_b AS dst FROM np
          UNION SELECT id_b, id_a FROM np),
reach AS (
  SELECT vec_id AS id, vec_id AS root FROM embeddings
  UNION
  SELECT e.dst AS id, r.root AS root FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id AS vec_id, CAST(min(root) AS BIGINT) AS component,
       id = min(root) AS is_keeper
FROM reach GROUP BY id
"""

# span surgery: the winnow_span_runs SQL re-stated as a CTE, overlap
# merge via the same prev-max islands, then the cleaned text rebuilt
# by the PER-CHAR twin (keep chars outside removed ranges, string_agg
# in position order) — a completely different reconstruction algorithm
# from the Spark side's span-fold stitcher, same value
ORACLE_SQL["span_surgery"] = f"""
WITH spans_q AS ({ORACLE_SQL["winnow_span_runs"]}),
-- DISTINCT mirrors the Spark side: duplicate (s, e) sort keys would
-- let the flag and prefix-sum windows order tied peers differently
cut AS (SELECT DISTINCT id_b AS doc_id, b_start AS s, b_end AS e FROM spans_q),
fl AS (
  SELECT *, CASE WHEN s > coalesce(max(e) OVER (
                   PARTITION BY doc_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
            THEN 1 ELSE 0 END AS nf
  FROM cut
),
isl AS (
  SELECT *, sum(nf) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS UNBOUNDED PRECEDING) AS island
  FROM fl
),
merged AS (
  SELECT doc_id, island, min(s) AS s, max(e) AS e
  FROM isl GROUP BY doc_id, island
),
acct AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans_cut,
         CAST(sum(e - s + 1) AS BIGINT) AS n_chars_removed
  FROM merged GROUP BY doc_id
),
removed AS (
  SELECT DISTINCT doc_id, CAST(unnest(range(s, e + 1)) AS INTEGER) AS i
  FROM merged
),
chars AS (
  SELECT doc_id, CAST(unnest(range(1, length(text) + 1)) AS INTEGER) AS i,
         substr(text, CAST(unnest(range(1, length(text) + 1)) AS INTEGER), 1) AS ch
  FROM documents
),
clean AS (
  SELECT c.doc_id,
         coalesce(string_agg(c.ch, '' ORDER BY c.i)
                  FILTER (WHERE r.i IS NULL), '') AS clean_text
  FROM chars c LEFT JOIN removed r ON r.doc_id = c.doc_id AND r.i = c.i
  GROUP BY c.doc_id
)
SELECT d.doc_id,
       coalesce(a.n_spans_cut, 0) AS n_spans_cut,
       coalesce(a.n_chars_removed, 0) AS n_chars_removed,
       CAST(length(coalesce(cl.clean_text, d.text)) AS BIGINT) AS clean_len,
       md5(coalesce(cl.clean_text, d.text)) AS clean_fp
FROM documents d
LEFT JOIN acct a USING (doc_id)
LEFT JOIN clean cl ON cl.doc_id = d.doc_id AND a.doc_id IS NOT NULL
"""

# funnel: first signup picked by row_number over the same (ts,
# event_id) total order Spark's min(struct) encodes; window arithmetic
# in integer epoch-micros
ORACLE_SQL["funnel_conversion"] = """
WITH s AS (
  SELECT user_id, event_id AS signup_event, epoch_us(ts) AS s_us,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE event_type = 'signup'
),
f AS (SELECT user_id, signup_event, s_us FROM s WHERE rn = 1),
p AS (
  SELECT user_id, epoch_us(ts) AS p_us FROM events
  WHERE event_type = 'purchase'
),
g AS (
  SELECT f.user_id, f.signup_event, f.s_us,
         min(CASE WHEN p.p_us > f.s_us AND p.p_us <= f.s_us + 604800000000
                  THEN p.p_us END) AS c_us
  FROM f LEFT JOIN p USING (user_id)
  GROUP BY 1, 2, 3
)
SELECT user_id, signup_event,
       c_us IS NOT NULL AS converted,
       CAST(c_us - s_us AS BIGINT) AS micros_to_convert
FROM g
"""

# per-source keyness: exact BIGINT cross-products, ONE IEEE division
ORACLE_SQL["source_top_terms"] = f"""
WITH toks AS (SELECT source, unnest({_TOKS}) AS term FROM documents),
tfs AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS tf_s
  FROM toks GROUP BY 1, 2
),
tot_s AS (SELECT source, CAST(sum(tf_s) AS BIGINT) AS n_s FROM tfs GROUP BY 1),
tfc AS (SELECT term, CAST(sum(tf_s) AS BIGINT) AS tf_c FROM tfs GROUP BY 1),
nc AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_c FROM tot_s),
scored AS (
  SELECT tfs.source, tfs.term, tfs.tf_s, tfc.tf_c,
         (tfs.tf_s * nc.n_c) / (tot_s.n_s * tfc.tf_c) AS keyness
  FROM tfs
  JOIN tfc USING (term)
  JOIN tot_s USING (source)
  CROSS JOIN nc
  WHERE tfs.tf_s >= 5
),
r AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY source ORDER BY keyness DESC, term ASC
  ) AS INTEGER) AS rn
  FROM scored
)
SELECT source, term, tf_s, tf_c, round(keyness, 6) AS keyness, rn
FROM r WHERE rn <= 5
"""

# batch-vs-index dedup: same derived batch/index in both engines;
# verdict precedence dup_index > dup_batch > novel, min-id first-wins
ORACLE_SQL["incremental_dedup"] = f"""
WITH batch AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, text FROM documents
  WHERE doc_id % 7 = 0
),
b AS (SELECT doc_id, {_FP_SQL} AS fp FROM batch),
r AS (
  SELECT doc_id, fp,
         min(doc_id) OVER (PARTITION BY fp) AS first_id
  FROM b
),
idx AS (
  SELECT DISTINCT {_FP_SQL} AS fp FROM documents WHERE doc_id % 3 = 0
)
SELECT r.doc_id, r.fp,
  CASE WHEN idx.fp IS NOT NULL THEN 'dup_index'
       WHEN r.doc_id <> r.first_id THEN 'dup_batch'
       ELSE 'novel' END AS verdict
FROM r LEFT JOIN idx ON r.fp = idx.fp
"""

# PMI collocations: ranking by the exact-count ratio (log is monotone)
# - two exact BIGINT products meeting in one IEEE division
ORACLE_SQL["pmi_collocations"] = f"""
WITH toks AS (SELECT {_TOKS} AS w FROM documents),
pairs AS (
  SELECT unnest(list_transform(range(len(w) - 1),
    i -> struct_pack(x := w[i+1], y := w[i+2]))) AS p
  FROM toks WHERE len(w) >= 2
),
xy AS (SELECT p.x AS x, p.y AS y FROM pairs),
uc AS (
  SELECT t, CAST(count(*) AS BIGINT) AS c_t
  FROM (SELECT unnest(w) AS t FROM toks) GROUP BY 1
),
nt AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_total FROM uc),
bc AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy
  FROM xy GROUP BY 1, 2 HAVING count(*) >= 5
),
s AS (
  SELECT bc.x || ' ' || bc.y AS bigram, bc.c_xy,
         ux.c_t AS c_x, uy.c_t AS c_y,
         round(CAST(nt.n_total * bc.c_xy AS DOUBLE)
               / CAST(ux.c_t * uy.c_t AS DOUBLE), 6) AS pmi_ratio
  FROM bc
  JOIN uc ux ON bc.x = ux.t
  JOIN uc uy ON bc.y = uy.t
  CROSS JOIN nt
),
rk AS (
  SELECT *, CAST(row_number() OVER (
    ORDER BY pmi_ratio DESC, bigram ASC
  ) AS INTEGER) AS rank
  FROM s
)
SELECT bigram, c_xy, c_x, c_y, pmi_ratio, rank FROM rk WHERE rank <= 50
"""

# first-BPE-merge pair statistics: vocabulary-weighted adjacent char
# pairs - the pair explosion runs on the vocab table, never the corpus
ORACLE_SQL["bpe_merge_candidates"] = f"""
WITH words AS (
  SELECT unnest({_TOKS}) AS word FROM documents
),
vocab AS (
  SELECT word, CAST(count(*) AS BIGINT) AS wc
  FROM words WHERE length(word) >= 2 GROUP BY 1
),
pairs AS (
  SELECT wc, unnest(list_transform(range(length(word) - 1),
    i -> struct_pack(
      l := substring(word, CAST(i AS INTEGER) + 1, 1),
      r := substring(word, CAST(i AS INTEGER) + 2, 1)))) AS p
  FROM vocab
),
c AS (
  SELECT p.l AS l, p.r AS r, CAST(sum(wc) AS BIGINT) AS pair_count
  FROM pairs GROUP BY 1, 2 HAVING sum(wc) >= 5
),
s AS (
  SELECT l || r AS pair, l AS lhs, r AS rhs, pair_count FROM c
),
rk AS (
  SELECT *, CAST(row_number() OVER (
    ORDER BY pair_count DESC, pair ASC
  ) AS INTEGER) AS rank
  FROM s
)
SELECT pair, lhs, rhs, pair_count, rank FROM rk WHERE rank <= 30
"""

# Heaps'-law growth curve: each term's prefix membership is decided by
# its FIRST occurrence - one vocab-sized min-agg, no per-checkpoint scan
ORACLE_SQL["vocab_growth"] = f"""
WITH toks AS (
  SELECT doc_id AS did, {_TOKS} AS w FROM documents
),
mx AS (SELECT max(doc_id) AS mid FROM documents),
fs AS (
  SELECT t, min(did) AS fs
  FROM (SELECT did, unnest(w) AS t FROM toks) GROUP BY 1
),
th AS (
  SELECT CAST(pct AS INTEGER) AS pct,
         CAST(floor(mid * pct / 100) AS BIGINT) AS id_threshold
  FROM (SELECT unnest([25, 50, 75, 100]) AS pct) CROSS JOIN mx
),
v AS (
  SELECT pct, id_threshold,
    CAST(sum(CASE WHEN fs <= id_threshold THEN 1 ELSE 0 END) AS BIGINT)
      AS n_distinct_terms
  FROM fs CROSS JOIN th GROUP BY 1, 2
),
tt AS (
  SELECT pct, id_threshold,
    CAST(sum(CASE WHEN did <= id_threshold THEN 1 ELSE 0 END) AS BIGINT)
      AS n_docs,
    CAST(sum(CASE WHEN did <= id_threshold THEN len(w) ELSE 0 END) AS BIGINT)
      AS n_tokens
  FROM toks CROSS JOIN th GROUP BY 1, 2
)
SELECT v.pct, v.id_threshold, n_docs, n_tokens, n_distinct_terms,
  round(n_distinct_terms / n_tokens, 6) AS heaps_ratio
FROM v JOIN tt USING (pct, id_threshold)
"""
