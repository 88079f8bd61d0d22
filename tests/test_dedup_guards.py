"""Guard rails on the dedup family: cross-engine overflow bounds,
degenerate-document parity, and posting-cap behavior."""

from __future__ import annotations

import duckdb
import pytest

from ocr_spark.operators.dedup import (
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
)
from ocr_spark.queries import _minhash_sql


def test_num_hashes_overflow_bound_enforced(spark):
    """g_i = a + i*b with 60-bit bases exceeds 2^63 for i >= 8: Spark
    would wrap silently where DuckDB raises, so the API refuses."""
    df = spark.createDataFrame([(1, "a b c d e")], "doc_id int, text string")
    with pytest.raises(ValueError, match="num_hashes"):
        minhash_lsh_dedup(df, num_hashes=16)


TINY_DOCS = [
    (1, ""),  # zero tokens → zero shingles
    (2, "one"),  # 1 token
    (3, "two words"),  # 2 tokens → still zero 3-shingles
    (4, "exactly three tokens"),  # first doc with one shingle
    (5, "exactly three tokens"),  # its exact duplicate
    (6, "a completely different shingle here today"),
    (7, "a completely different shingle here tomorrow"),
    (8, " "),  # whitespace-only
]


def test_minhash_tiny_docs_parity_vs_duckdb(spark):
    """Docs with fewer than n tokens (empty shingle sets) must not
    surface as mutual candidates on either engine: Spark filters them
    before bucketing; DuckDB's list_min gives NULL buckets that never
    join. Result sets must agree exactly."""
    sdf = spark.createDataFrame(TINY_DOCS, "doc_id int, text string")
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_lsh_dedup(sdf, threshold=0.3).collect()
    }

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in TINY_DOCS)
        + ") AS t(doc_id, text)"
    )
    want = {tuple(r) for r in con.sql(_minhash_sql(threshold=0.3)).fetchall()}
    assert got == want
    assert (4, 5, 1.0) in got  # the real duplicate pair still found
    empties = {1, 2, 3, 8}
    assert not any(a in empties or b in empties for a, b, _ in got)


def test_ngram_posting_cap_bounds_hot_shingles(spark):
    """A shingle hotter than max_postings is dropped from the candidate
    join (skew guard); a generous cap keeps exact behavior."""
    hot = [(i, "common boilerplate footer") for i in range(5)]
    sdf = spark.createDataFrame(hot, "doc_id int, text string")
    capped = ngram_jaccard_pairs(sdf, threshold=0.1, max_postings=2)
    assert capped.count() == 0  # the only shingle is in 5 > 2 docs
    uncapped = ngram_jaccard_pairs(sdf, threshold=0.1, max_postings=100)
    assert uncapped.count() == 10  # all C(5,2) exact-dup pairs


def test_winnow_span_runs_finds_planted_passage(spark):
    """A passage copied verbatim between two docs must come back as
    one island with char offsets covering it in BOTH docs; unrelated
    docs must not pair."""
    from ocr_spark.operators.dedup import winnow_span_runs

    passage = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (1, "AAAA start one " + passage + " tail text one zzz"),
        (2, "BBBB completely different opening " + passage + " other end"),
        (3, "unrelated content with no overlap whatsoever in any form here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = winnow_span_runs(df, min_run=3, max_postings=4).collect()
    pairs = {(r.id_a, r.id_b) for r in out}
    assert pairs == {(1, 2)}
    r = max((x for x in out if (x.id_a, x.id_b) == (1, 2)), key=lambda x: x.n_fps)
    a_text, b_text = rows[0][1], rows[1][1]
    # the reported span must cover the copied region to within window
    # slack: pos is a 1-indexed window START, and a window beginning up
    # to w-1 grams before the passage can pick a passage gram as its
    # minimum, so the span may start <= 3 early; the tail extends
    # k+w-2 past the last window start
    a_lo, b_lo = a_text.index(passage) + 1, b_text.index(passage) + 1
    assert a_lo - 3 <= r.a_start <= r.a_end <= a_lo + len(passage) + 10
    assert b_lo - 3 <= r.b_start <= r.b_end <= b_lo + len(passage) + 10
    # diagonal = constant shift between the two copies
    assert r.diag == r.a_start - r.b_start


def test_keep_best_representative_picks_highest_score(spark):
    from pyspark.sql import functions as F
    from ocr_spark.operators.dedup import keep_best_representative

    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4)], ["doc_id", "component"]
    ).withColumn("is_keeper", F.col("doc_id") == F.col("component"))
    scored = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (4, 0.5)], ["doc_id", "quality"]
    )
    out = {r.doc_id: r.is_best for r in keep_best_representative(scored, comps).collect()}
    # 2 and 3 tie on score -> smaller id wins; singleton keeps itself
    assert out == {1: False, 2: True, 3: False, 4: True}


def test_span_surgery_invariants(spark):
    """Surgery accounting must balance: clean_len = len(text) −
    n_chars_removed for every doc; untouched docs keep their exact
    fingerprint; the cut side is always the HIGHER id of a pair."""
    import hashlib

    from pyspark.sql import functions as F
    from ocr_spark.operators.dedup import apply_span_surgery, winnow_span_runs

    passage = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (1, "AAAA start one " + passage + " tail text one zzz"),
        (2, "BBBB completely different opening " + passage + " other end"),
        (3, "unrelated content with no overlap whatsoever in any form here"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = winnow_span_runs(docs)
    out = {r.doc_id: r for r in apply_span_surgery(docs, spans).collect()}
    assert set(out) == {1, 2, 3}
    for doc_id, text in rows:
        r = out[doc_id]
        assert r.clean_len == len(text) - r.n_chars_removed
    # doc 1 is the keeper (smaller id), doc 3 untouched
    assert out[1].n_spans_cut == 0
    assert out[3].n_spans_cut == 0
    assert out[1].clean_fp == hashlib.md5(rows[0][1].encode()).hexdigest()
    # doc 2 lost (at least most of) the copied passage
    assert out[2].n_spans_cut >= 1
    assert out[2].n_chars_removed >= len(passage) - 6


def test_span_runs_degenerate_docs(spark):
    """Pathological inputs must stay bounded, not blow up the join:
    a single repeated character collapses to ONE run-compressed
    fingerprint occurrence per doc (all grams identical), and the
    posting cap drops vocabulary-grade fingerprints shared by many
    docs. Empty/short docs are filtered by the length predicate."""
    from ocr_spark.operators.dedup import winnow_run_starts, winnow_span_runs

    rows = [
        (1, "x" * 5000),  # one gram value, 4989 windows
        (2, "x" * 5000),  # its twin
        (3, ""),  # empty
        (4, "short"),  # below k+w-1
        (5, "y" * 20 + "x" * 20),  # two runs
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    occ = winnow_run_starts(docs).collect()
    per_doc = {}
    for r in occ:
        per_doc.setdefault(r.doc_id, []).append(r)
    # run compression: constant text -> exactly one occurrence
    assert len(per_doc[1]) == 1 and per_doc[1][0].pos == 1
    assert len(per_doc[5]) <= 3  # y-run, boundary, x-run
    assert 3 not in per_doc and 4 not in per_doc
    # pairs exist only where rare fingerprints align (1-2 twin pair);
    # nothing quadratic, nothing self-paired
    pairs = winnow_span_runs(docs, min_run=1).collect()
    assert all(r.id_a < r.id_b for r in pairs)
    assert {(r.id_a, r.id_b) for r in pairs} <= {(1, 2), (1, 5), (2, 5)}


def test_span_surgery_no_spans_is_identity(spark):
    """Surgery over an empty span set must return every doc unchanged
    (left-join path), including empty text."""
    import hashlib

    from ocr_spark.operators.dedup import apply_span_surgery

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "")], ["doc_id", "text"]
    )
    spans = spark.createDataFrame(
        [], "id_a long, id_b long, diag int, n_fps long, "
        "a_start int, a_end int, b_start int, b_end int"
    )
    out = {r.doc_id: r for r in apply_span_surgery(docs, spans).collect()}
    assert out[1].n_spans_cut == 0 and out[2].n_spans_cut == 0
    assert out[1].clean_fp == hashlib.md5(b"hello world").hexdigest()
    assert out[2].clean_len == 0


def test_span_surgery_duplicate_spans_from_two_partners(spark):
    """A doc that copied the same passage present in TWO earlier docs
    receives the identical (s, e) span twice — the dedup before the
    island windows must collapse it to ONE cut (this exact shape made
    the two-window islands construction order-sensitive and flaky
    before the DISTINCT guard)."""
    from ocr_spark.operators.dedup import apply_span_surgery, winnow_span_runs

    passage = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (1, "first origin doc says " + passage + " and more"),
        (2, "second origin doc says " + passage + " and other"),
        (3, "late copier writes " + passage + " at the end here"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = winnow_span_runs(docs, max_postings=6)
    pair_bs = [
        (r.id_a, r.id_b, r.b_start, r.b_end) for r in spans.collect() if r.id_b == 3
    ]
    out = {r.doc_id: r for r in apply_span_surgery(docs, spans).collect()}
    # doc 3 got spans from both partners; identical ranges must merge
    assert len(pair_bs) >= 2
    assert out[3].n_spans_cut == 1
    assert out[3].clean_len == len(rows[2][1]) - out[3].n_chars_removed


def test_canonical_dedup_collapses_trivial_variants(spark):
    """Case/punct/whitespace variants land in one group with the min-id
    keeper; genuinely different text stays separate."""
    from ocr_spark.operators.dedup import canonical_dedup

    docs = spark.createDataFrame(
        [
            (1, "Hello, World!"),
            (2, "hello   world"),
            (3, "HELLO-WORLD"),
            (4, "goodbye world"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_variants"], r["is_keeper"])
        for r in canonical_dedup(docs).collect()
    }
    assert got == {1: (3, True), 2: (3, False), 3: (3, False), 4: (1, True)}


def test_incremental_dedup_verdict_precedence(spark):
    """dup_index outranks dup_batch (every batch copy of an indexed
    fingerprint is dup_index, including the batch's own first
    occurrence); min-id first-wins decides dup_batch vs novel; the
    fingerprint is canonical (case/ws-folded), so a re-cased re-crawl
    still hits the index."""
    from pyspark.sql import functions as F

    from ocr_spark.functions.text import fingerprint
    from ocr_spark.operators.dedup import incremental_dedup

    batch = spark.createDataFrame(
        [
            (1, "Alpha doc"),   # fp in index -> dup_index
            (2, "alpha  DOC"),  # same canonical fp -> dup_index (not dup_batch)
            (3, "beta doc"),    # novel, first sighting
            (4, "beta doc"),    # within-batch copy -> dup_batch
            (5, "gamma doc"),   # novel
            (6, None),          # NULL text: still gets a verdict
            (7, None),          # second NULL -> dup_batch of doc 6
        ],
        "doc_id int, text string",
    )
    index = spark.createDataFrame([("alpha doc",)], "text string").select(
        fingerprint(F.col("text")).alias("fp")
    )
    got = {
        r["doc_id"]: r["verdict"]
        for r in incremental_dedup(batch, index).collect()
    }
    assert got == {
        1: "dup_index",
        2: "dup_index",
        3: "novel",
        4: "dup_batch",
        5: "novel",
        6: "novel",
        7: "dup_batch",
    }
