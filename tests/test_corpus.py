"""Unit + plan-shape tests for the corpus-level training-data
operators (ocr_spark/operators/corpus.py, PII functions in
functions/text.py). Cross-engine value parity is covered by
tests/test_entry_oracle.py; these tests pin semantics on crafted
inputs and the physical-plan shapes that carry the 100 TB story."""

from __future__ import annotations

import math
import re

from pyspark.sql import functions as F

from ocr_spark.operators.corpus import (
    decontaminate,
    length_percentiles,
    tfidf_top_terms,
    train_val_split,
    vocab_stats,
)
from ocr_spark.plans.checks import count_exchanges, physical_plan
from ocr_spark.sources.io import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_decontaminate_semantics(spark):
    d = spark.createDataFrame(
        [(0, "a b c d"), (1, "b c d e"), (2, "x y z w")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in decontaminate(d).collect()}
    # doc 0 is the eval slice (0 % 41 == 0) and is excluded from output
    assert set(rows) == {1, 2}
    assert rows[1]["n_eval_shingles"] == 1  # shares "b c d" with doc 0
    assert rows[1]["contaminated"] == 1
    assert rows[2]["n_eval_shingles"] == 0
    assert rows[2]["contaminated"] == 0


def test_decontaminate_corpus_side_is_map_only(spark):
    """The corpus pass must not explode or shuffle the corpus shingle
    stream: the only Generate/Exchange nodes belong to the (small)
    eval-side aggregate, joined back as a broadcast."""
    df = decontaminate(load_table(spark, SF_DIR, "documents"))
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan  # one-row eval array side
    # eval side: one explode + its single-partition aggregate exchange
    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) <= 1
    assert count_exchanges(df) <= 2


def test_tfidf_ranking_semantics(spark):
    d = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "banana cherry"), (3, "cherry cherry cherry")],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(d, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["rn"], r["term"], r["score"]))
    # doc 1: apple tf=2 df=1 → 2·(3/1)=6 beats banana 1·(3/2)=1.5
    assert sorted(by_doc[1]) == [(1, "apple", 6.0), (2, "banana", 1.5)]
    # doc 3: cherry tf=3 df=2 → 4.5; only term
    assert sorted(by_doc[3]) == [(1, "cherry", 4.5)]


def test_tfidf_dfreq_is_broadcast(spark):
    df = tfidf_top_terms(load_table(spark, SF_DIR, "documents"))
    assert "BroadcastHashJoin" in physical_plan(df)
    assert "SortMergeJoin" not in physical_plan(df)


def test_length_percentiles_matches_bruteforce(spark):
    docs = load_table(spark, SF_DIR, "documents")
    got = {r["lang"]: r for r in length_percentiles(docs).collect()}
    raw = [(r["lang"], len(r["text"].strip().split())) for r in docs.collect()]
    langs = {lang for lang, _ in raw}
    for lang in langs:
        ns = sorted(n for l, n in raw if l == lang)
        exp50 = ns[math.ceil(0.5 * len(ns)) - 1]
        exp90 = ns[math.ceil(0.9 * len(ns)) - 1]
        assert got[lang]["n_docs"] == len(ns)
        assert got[lang]["p50_tokens"] == exp50, lang
        assert got[lang]["p90_tokens"] == exp90, lang


def test_length_percentiles_shuffles_histogram_not_rows(spark):
    """Histogram formulation: the (group, n) pre-aggregate has map-side
    combine (two HashAggregates around its exchange); everything after
    operates on the tiny histogram."""
    df = length_percentiles(load_table(spark, SF_DIR, "documents"))
    plan = physical_plan(df)
    assert plan.count("HashAggregate") >= 2
    assert count_exchanges(df) <= 3


def test_vocab_stats_small(spark):
    d = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, text string"
    )
    r = vocab_stats(d).collect()[0]
    assert r["n_total_tokens"] == 5
    assert r["n_distinct_terms"] == 3
    assert r["n_hapax"] == 1  # only "c"
    assert r["hapax_frac"] == round(1 / 3, 6)


def test_train_val_split_deterministic_fractions(spark):
    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    a = {r["doc_id"]: r["split"] for r in train_val_split(docs).collect()}
    b = {r["doc_id"]: r["split"] for r in train_val_split(docs).collect()}
    assert a == b  # stateless — identical across runs
    n = len(a)
    frac_train = sum(1 for s in a.values() if s == "train") / n
    assert 0.83 <= frac_train <= 0.95
    assert {"train", "val", "test"} <= set(a.values()) or n < 60


def test_pii_redact_edges(spark):
    from ocr_spark.functions.text import pii_counts, pii_redact

    rows = [
        (1, "mail a.b-c_1@ex-ample.co.uk now"),
        (2, "call 555-123-4567 x9"),
        (3, "host 10.0.0.1 up"),
        (4, "ver 1.2.3.4.5 tag"),          # IP regex eats 1.2.3.4, leaves .5
        (5, "serial 1234-123-1234 ok"),     # NOT a phone (no 3-digit prefix)
        (6, "plain text only"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    e, p, i = pii_counts(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in d.select(
            "doc_id",
            e.alias("e"),
            p.alias("p"),
            i.alias("i"),
            pii_redact(F.col("text")).alias("red"),
        ).collect()
    }
    assert out[1]["e"] == 1 and out[1]["red"] == "mail [EMAIL] now"
    assert out[2]["p"] == 1 and out[2]["red"] == "call [PHONE] x9"
    assert out[3]["i"] == 1 and out[3]["red"] == "host [IP] up"
    assert out[4]["i"] == 1 and out[4]["red"] == "ver [IP].5 tag"
    assert out[5]["p"] == 0 and out[5]["red"] == rows[4][1]
    assert out[6]["red"] == rows[5][1]


def test_boilerplate_scrub_semantics(spark):
    from ocr_spark.operators.corpus import boilerplate_scrub

    d = spark.createDataFrame(
        [
            (0, "h1 h2 h3 h4 u1 u2 u3 u4 tail"),
            (1, "h1 h2 h3 h4 v1 v2 v3 v4"),
            (2, "h1 h2 h3 h4"),  # fully boilerplate -> empty clean_text
            (3, "w1 w2 w3 w4"),  # unique -> untouched
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in boilerplate_scrub(d, max_docs=2).collect()
    }
    # "h1 h2 h3 h4" appears in 3 docs > max_docs=2 -> dropped everywhere
    assert out[0]["clean_text"] == "u1 u2 u3 u4 tail"  # short tail kept
    assert out[0]["n_seg_kept"] == 2 and out[0]["n_seg_dropped"] == 1
    assert out[1]["clean_text"] == "v1 v2 v3 v4"
    assert out[2]["clean_text"] == "" and out[2]["n_seg_kept"] == 0
    assert out[3]["clean_text"] == "w1 w2 w3 w4"
    assert out[3]["n_seg_dropped"] == 0


def test_boilerplate_scrub_broadcasts_frequent_set(spark):
    from ocr_spark.operators.corpus import boilerplate_scrub

    df = boilerplate_scrub(load_table(spark, SF_DIR, "documents"))
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan  # scrub join ships only the bp set
    # shuffles: segment-frequency distinct-count (2-phase) + final
    # doc-id reassembly; nothing else
    assert count_exchanges(df) <= 3


def test_pack_sequences_semantics(spark):
    from ocr_spark.operators.corpus import pack_sequences

    d = spark.createDataFrame(
        [
            (1, "s", "t1 t2 t3"),          # [0,3) -> bin 0 off 0
            (2, "s", "t1 t2 t3"),          # [3,6) -> bin 0 off 3, spans 2
            (3, "s", "t1 t2"),             # [6,8) -> bin 1 off 2
            (4, "other", "t1"),            # own shard: bin 0 off 0
        ],
        "doc_id long, source string, text string",
    )
    out = {
        r["doc_id"]: r for r in pack_sequences(d, capacity=4).collect()
    }
    assert (out[1]["bin_id"], out[1]["bin_offset"], out[1]["n_bins"]) == (0, 0, 1)
    assert (out[2]["bin_id"], out[2]["bin_offset"], out[2]["n_bins"]) == (0, 3, 2)
    assert (out[3]["bin_id"], out[3]["bin_offset"], out[3]["n_bins"]) == (1, 2, 1)
    assert (out[4]["bin_id"], out[4]["bin_offset"], out[4]["n_bins"]) == (0, 0, 1)


def test_pack_sequences_single_shuffle(spark):
    from ocr_spark.operators.corpus import pack_sequences

    df = pack_sequences(load_table(spark, SF_DIR, "documents"))
    assert count_exchanges(df) == 1  # the per-shard window, nothing else
    assert not re.search(r"\bGenerate\b", physical_plan(df))


def test_script_profile_semantics_and_plan(spark):
    from ocr_spark.operators.corpus import script_profile

    d = spark.createDataFrame([(1, "ab1 c!")], "doc_id long, text string")
    r = script_profile(d).collect()[0]
    assert r["n_chars"] == 6
    assert math.isclose(r["latin_frac"], 3 / 6, abs_tol=1e-6)
    assert math.isclose(r["digit_frac"], 1 / 6, abs_tol=1e-6)
    assert math.isclose(r["space_frac"], 1 / 6, abs_tol=1e-6)
    assert math.isclose(r["other_frac"], 1 / 6, abs_tol=1e-6)
    # map-only: scan + project, no shuffle
    assert count_exchanges(script_profile(load_table(spark, SF_DIR, "documents"))) == 0


def test_source_mixture_weights_alpha_half(spark):
    from ocr_spark.operators.corpus import source_mixture_weights

    d = spark.createDataFrame(
        [(1, "a", "t1"), (2, "b", "t1 t2 t3 t4")],
        "doc_id long, source string, text string",
    )
    out = {r["source"]: r for r in source_mixture_weights(d).collect()}
    assert math.isclose(out["a"]["p_raw"], 0.2, abs_tol=1e-6)
    # sqrt smoothing: weights 1/3 vs 2/3, rare source oversampled 5/3x
    assert math.isclose(out["a"]["weight"], 1 / 3, abs_tol=1e-6)
    assert math.isclose(out["b"]["weight"], 2 / 3, abs_tol=1e-6)
    assert math.isclose(out["a"]["sample_mult"], 5 / 3, abs_tol=1e-6)
    assert math.isclose(out["b"]["sample_mult"], 5 / 6, abs_tol=1e-6)
    assert math.isclose(sum(r["weight"] for r in out.values()), 1.0, abs_tol=2e-6)


def test_unigram_commonness_semantics(spark):
    from ocr_spark.operators.corpus import unigram_commonness

    d = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "zzz qqq")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in unigram_commonness(d).collect()}
    # df: a->2 docs, b->1, c->1, zzz->1, qqq->1; n_docs=3
    assert out[1]["sum_df"] == 2 + 2 + 1 and out[1]["n_tokens"] == 3
    assert math.isclose(out[1]["common_score"], 5 / 9, abs_tol=1e-6)
    assert math.isclose(out[2]["common_score"], 3 / 6, abs_tol=1e-6)
    # gibberish doc: every token unique to it -> minimum score
    assert math.isclose(out[3]["common_score"], 2 / 6, abs_tol=1e-6)
    assert out[3]["common_score"] < out[1]["common_score"]


def test_unigram_commonness_broadcasts_vocab(spark):
    from ocr_spark.operators.corpus import unigram_commonness

    df = unigram_commonness(load_table(spark, SF_DIR, "documents"))
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan  # vocab-sized df table ships small
    # shuffles: doc-frequency distinct-count (2-phase) + per-doc re-agg
    # + the one-partial-row-per-task n_docs count; nothing corpus-sized
    # beyond the re-agg
    assert count_exchanges(df) <= 4


def test_materialize_mixture_flattens_and_is_total(spark):
    """Temperature sampling must (a) cover every doc exactly once,
    (b) give the token-richest source the LOWEST keep rate (that is
    what α=0.5 flattening means), and (c) be a pure function of
    doc_id — rerunning yields the identical verdict set."""
    from ocr_spark.operators.corpus import materialize_mixture
    from ocr_spark.sources.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = materialize_mixture(docs)
    rows = out.collect()
    assert len(rows) == docs.count()
    assert len({r.doc_id for r in rows}) == len(rows)
    rate_by_source = {r.source: r.keep_rate for r in rows}
    toks = {
        r.source: r.n
        for r in docs.groupBy("source")
        .agg(F.sum(F.size(F.split(F.trim("text"), r"\s+"))).alias("n"))
        .collect()
    }
    biggest = max(toks, key=lambda s: toks[s])
    assert rate_by_source[biggest] == min(rate_by_source.values())
    again = {(r.doc_id, r.is_kept) for r in materialize_mixture(docs).collect()}
    assert again == {(r.doc_id, r.is_kept) for r in rows}


def test_weighted_sample_bias_determinism_and_small_groups(spark):
    """A-ES via max-of-w-uniforms: (a) deterministic across calls,
    (b) heavier items are strongly overrepresented at the cut,
    (c) a group smaller than k returns whole and fully ranked."""
    from ocr_spark.operators.corpus import weighted_sample

    rows = [(i, "g", 8 if i < 200 else 1) for i in range(400)]
    rows += [(1000 + i, "tiny", 3) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, source string, weight int")
    s1 = weighted_sample(df, k=100)
    s2 = weighted_sample(df, k=100)
    a = sorted(map(tuple, s1.collect()))
    assert a == sorted(map(tuple, s2.collect()))
    g = [r for r in a if r[1] == "g"]
    heavy = sum(1 for r in g if r[2] == 8)
    # E[heavy share] ~ w/(w+1) pattern; 8x weight should dominate:
    # binomial tail makes < 60/100 vanishingly unlikely
    assert len(g) == 100 and heavy >= 60, heavy
    tiny = [r for r in a if r[1] == "tiny"]
    assert sorted(r[3] for r in tiny) == [1, 2, 3, 4, 5]


def test_weighted_sample_null_weight_counts_as_one(spark, tmp_path):
    """A NULL-text document has a NULL raw weight. Both engines must
    clamp it to 1, not to max_weight, in the sampler and in its clamp
    audit (``least`` skips NULLs, so an unguarded clamp gives it the
    highest inclusion odds)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.queries import ORACLE_SQL, SPARK_QUERIES

    docs = str(tmp_path / "documents.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2, 3, 4], pa.int64()),
                "text": [None, "a" * 600, "short", "b" * 9000],
                "source": ["web", "web", "web", "code"],
            }
        ),
        docs,
    )
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{docs}'")

    got = {}
    for name in ("weighted_sample", "weighted_sample_clamp"):
        df = SPARK_QUERIES[name](spark, str(tmp_path))
        cols = sorted(df.columns)
        spark_rows = sorted(tuple(r[c] for c in cols) for r in df.collect())
        rel = con.sql(ORACLE_SQL[name])
        assert sorted(rel.columns) == cols
        duck_rows = sorted(
            tuple(r[rel.columns.index(c)] for c in cols) for r in rel.fetchall()
        )
        assert spark_rows == duck_rows, name
        got[name] = [dict(zip(cols, r)) for r in spark_rows]

    weights = {r["doc_id"]: r["weight"] for r in got["weighted_sample"]}
    assert weights == {1: 1, 2: 2, 3: 1, 4: 16}
    (stats,) = got["weighted_sample_clamp"]
    assert stats["n_null_weight"] == 1
    assert stats["weight_mass_clamped"] == 1 + 2 + 1 + 16


def test_pmi_collocations_count_invariants(spark):
    """Every reported pair satisfies the count lattice (c_x >= c_xy,
    c_y >= c_xy >= min_count), ranks are contiguous from 1, and the
    ratio recomputes exactly from the emitted counts and the corpus
    token total — so the broadcast-side marginal filter provably
    dropped nothing that could score."""
    from ocr_spark.operators.corpus import pmi_collocations
    from ocr_spark.sources.io import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    n_total = docs.select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("t")
    ).count()
    rows = pmi_collocations(docs, top_n=20).collect()
    assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == list(
        range(1, len(rows) + 1)
    )
    for r in rows:
        assert r.c_xy >= 5 and r.c_x >= r.c_xy and r.c_y >= r.c_xy
        assert r.pmi_ratio == round(n_total * r.c_xy / (r.c_x * r.c_y), 6)


def test_incremental_dedup_novel_closure(spark):
    """Protocol soundness: append the novel set's fingerprints to the
    index and re-run the same batch — everything must come back
    dup_index (the fixed point a daily crawl loop converges to), and
    verdict counts partition the batch exactly."""
    from pyspark.sql import functions as F

    from ocr_spark.functions.text import fingerprint
    from ocr_spark.operators.dedup import incremental_dedup
    from ocr_spark.sources.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    index = docs.filter(F.col("doc_id") % 2 == 0).select(
        fingerprint(F.col("text")).alias("fp")
    )
    day1 = incremental_dedup(docs, index)
    assert day1.count() == docs.count()
    novel_fps = day1.filter(F.col("verdict") == "novel").select("fp")
    day2 = incremental_dedup(docs, index.unionByName(novel_fps))
    assert day2.filter(F.col("verdict") != "dup_index").count() == 0


def test_bpe_pairs_unicode_parity(spark):
    """Spark substr and DuckDB substring must both be CHARACTER-based
    on multi-byte text (a byte-based engine would split é/ï/ü into
    mojibake pairs); the driver fixtures are ASCII, so this pins the
    unicode contract the oracle can't exercise."""
    import duckdb

    from ocr_spark.operators.corpus import bpe_merge_candidates
    from ocr_spark.queries import ORACLE_SQL

    text = (
        "héllo héllo héllo héllo héllo naïve naïve naïve naïve naïve "
        "über über über über über"
    )
    d = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = sorted(
        (r.pair, r.pair_count)
        for r in bpe_merge_candidates(d, min_count=1, top_n=100).collect()
    )
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT 1::BIGINT AS doc_id, '{text}' AS text"
    )
    sql = (
        ORACLE_SQL["bpe_merge_candidates"]
        .replace(">= 5", ">= 1")
        .replace("<= 30", "<= 100")
    )
    want = sorted((r[0], r[3]) for r in con.sql(sql).fetchall())
    assert got == want
    assert ("hé", 5) in dict(got).items() and ("ïv", 5) in dict(got).items()


def test_whitespace_parity_contract(spark):
    """Pins the tokenizer's cross-engine whitespace contract (see the
    parity rules in ocr_spark/queries.py): \\s+ splitting agrees on
    unicode spaces (neither Java nor DuckDB-RE2 splits on NBSP/EM
    space — both classes are ASCII-only), while trim() is the KNOWN
    divergence (DuckDB strips unicode spaces, Spark ASCII only) that
    keeps leading/trailing unicode whitespace outside the contract.
    If either engine changes behavior, this test fails loudly."""
    import duckdb

    from pyspark.sql import functions as F

    from ocr_spark.functions.text import tokens

    interior = "a b c d e"
    got = (
        spark.createDataFrame([(interior,)], "text string")
        .select(tokens(F.col("text")).alias("t"))
        .collect()[0]
        .t
    )
    con = duckdb.connect()
    want = con.sql(
        "SELECT regexp_split_to_array(trim(?), '\\s+')", params=[interior]
    ).fetchone()[0]
    assert got == want == ["a b", "c d", "e"]

    edge = " x "
    s_trim = (
        spark.createDataFrame([(edge,)], "text string")
        .select(F.trim("text").alias("t"))
        .collect()[0]
        .t
    )
    d_trim = con.sql("SELECT trim(?)", params=[edge]).fetchone()[0]
    assert s_trim == edge and d_trim == "x"  # the documented divergence


def test_case_fold_parity_contract(spark):
    """Pins the lower() cross-engine contract (parity rules header):
    agreement on accents (precomposed AND decomposed), ß and ẞ;
    documented divergence on Turkish İ (U+0130), which Java lowers to
    'i' + combining dot (Unicode full mapping) and DuckDB to bare 'i'.
    Fails loudly if either engine moves."""
    import duckdb

    from pyspark.sql import functions as F

    con = duckdb.connect()

    def both(t):
        s = (
            spark.createDataFrame([(t,)], "x string")
            .select(F.lower("x").alias("lo"))
            .collect()[0]
            .lo
        )
        d = con.sql("SELECT lower(?)", params=[t]).fetchone()[0]
        return s, d

    for agreeing in ["STRASSE ß", "éclair", "éclair", "ẞ"]:
        s, d = both(agreeing)
        assert s == d, agreeing
    s, d = both("İstanbul")
    assert s == "i̇stanbul" and d == "istanbul"  # the divergence


def test_weighted_sample_clamp_stats_quantifies_distortion(spark):
    """The accounting row reports exactly what the [1, max_weight]
    clamp does: high/low/NULL clamp counts, heaviest raw weight, and
    the redistributed weight mass (raw 40+16+0(NULL→skip)-3+5)."""
    from ocr_spark.operators.corpus import weighted_sample_clamp_stats

    df = spark.createDataFrame(
        [(1, 40), (2, 16), (3, None), (4, -3), (5, 5)], "id long, weight int"
    )
    r = weighted_sample_clamp_stats(df).collect()[0]
    assert r["cap_value"] == 16
    assert r["n_rows"] == 5
    assert r["n_clamped_high"] == 1  # 40 → 16
    assert r["n_clamped_low"] == 1  # -3 → 1
    assert r["n_null_weight"] == 1
    assert r["max_weight_seen"] == 40
    assert r["weight_mass_raw"] == 40 + 16 - 3 + 5
    # clamped: 16 + 16 + (NULL counts as 1, as in the sampler) + 1 + 5
    assert r["weight_mass_clamped"] == 16 + 16 + 1 + 1 + 5
