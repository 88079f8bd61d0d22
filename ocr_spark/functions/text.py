"""Text-analysis column functions for the training-data pipeline.

Everything here is a **native Catalyst expression** (JVM-side,
whole-stage-codegen'd, no Python in the hot path) — the scale rule from
SURVEY.md §4: UDFs only where built-ins can't express the semantics.

These generalize the reference's scalar string/regex functions
(SURVEY.md §2.3: F3 regex-extract, F8 numeric parse, F12 case cleanup)
into the operations a 100 TB corpus pipeline needs: token counting,
language ID, quality scoring, fingerprinting, shingling.

Each function documents its ANSI-SQL twin (used by the DuckDB oracle in
``__spark_entry__``); keeping both sides to integer / md5-string /
single-division arithmetic makes results bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small per-language stopword marker sets (public common words). The
# language-ID heuristic counts whole-token hits per set — an n-gram-free
# variant of the classic stopword profile method, chosen because it is
# expressible identically in Spark and ANSI SQL.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that"),
    "de": ("der", "die", "das", "und", "nicht", "ein", "ist", "zu"),
    "es": ("el", "la", "los", "que", "y", "en", "es", "un"),
    "fr": ("le", "la", "les", "et", "que", "un", "est", "dans"),
}
# Deterministic priority order for score ties (first wins).
LANG_PRIORITY: tuple[str, ...] = ("en", "de", "es", "fr")

# CJK unified ideographs — presence routes to zh before scoring.
CJK_RE = r"[一-鿿]"


def tokens(c: Column) -> Column:
    """Whitespace tokenization. SQL twin: regexp_split_to_array(trim(x), '\\s+')."""
    return F.split(F.trim(c), r"\s+")


def token_count(c: Column) -> Column:
    return F.size(tokens(c))


def char_count(c: Column) -> Column:
    return F.length(c)


def stopword_hits(c: Column, lang: str) -> Column:
    """Total whole-word hits of the language's stopword set.
    SQL twin: len(regexp_extract_all(x, '\\b(w1|w2|...)\\b'))."""
    pat = r"\b(" + "|".join(STOPWORDS[lang]) + r")\b"
    return F.regexp_count(c, F.lit(pat))


def lang_id(c: Column) -> Column:
    """Heuristic language ID: CJK presence → zh; else argmax stopword
    hits with deterministic priority ties; zero hits everywhere → und."""
    scores = {lang: stopword_hits(c, lang) for lang in LANG_PRIORITY}
    best: Column = F.lit(0)
    for lang in LANG_PRIORITY:
        best = F.greatest(best, scores[lang])
    expr = F.when(F.regexp_count(c, F.lit(CJK_RE)) > 0, F.lit("zh"))
    expr = expr.when(best == 0, F.lit("und"))
    for lang in LANG_PRIORITY:
        expr = expr.when(scores[lang] == best, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def quality_score(c: Column) -> Column:
    """Document quality in [0,1]: combines length band, stopword ratio,
    and mean token length band — the reference's noise guards
    (``OCR API 2/ocr_utils.py:248-252``) generalized to corpus-quality
    heuristics (Gopher-style rules, public). Integer counts + single
    divisions only → engine-portable."""
    n_tok = token_count(c).cast("double")
    n_chars = char_count(c).cast("double")
    stop = (
        sum(
            (stopword_hits(c, lang) for lang in LANG_PRIORITY),
            F.lit(0),
        )
    ).cast("double")
    mean_tok_len = (n_chars - (n_tok - F.lit(1.0))) / n_tok  # chars minus separators
    len_ok = F.when((n_tok >= 10) & (n_tok <= 100000), F.lit(1.0)).otherwise(F.lit(0.0))
    tok_len_ok = F.when((mean_tok_len >= 2.0) & (mean_tok_len <= 12.0), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    stop_ratio = stop / n_tok
    return F.round(
        F.lit(0.4) * len_ok + F.lit(0.3) * tok_len_ok + F.lit(0.3) * F.least(F.lit(1.0), stop_ratio * 4),
        6,
    )


def fingerprint(c: Column) -> Column:
    """Exact-dup fingerprint: md5 of case-folded, whitespace-collapsed
    text (generalizes F12 cleanup + the reference's dedup-on-append J5).
    SQL twin: md5(regexp_replace(lower(trim(x)), '\\s+', ' '))."""
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


SHINGLE_N = 3  # words per shingle, for every shingle-set operator


def word_shingles(c: Column) -> Column:
    """Distinct word ``SHINGLE_N``-gram shingles as an array<string>.
    SQL twin: list_distinct(list_transform(range(len(w)-n+1),
    i -> w[i+1] || ' ' || ... )). Both sides 1-index element access.

    Implemented by zipping shifted copies of the token array instead
    of ``transform`` + ``element_at(w, i+j)``: a lambda CAPTURE of the
    outer token array re-evaluates the whole tokenization per element
    under Catalyst's projection collapse (measured ~10× on the shingle
    stage); ``zip_with`` arguments are plain expressions evaluated
    once. ``concat`` (null-propagating) marks the <n-length tail,
    which the final slice drops."""
    n = SHINGLE_N
    w = tokens(c)
    count = F.greatest(F.size(w) - F.lit(n - 1), F.lit(0))
    res = F.slice(w, n, F.size(w))  # tokens at offset n-1
    for j in range(n - 1, 0, -1):
        sj = F.slice(w, j, F.size(w)) if j > 1 else w
        res = F.zip_with(sj, res, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.array_distinct(F.slice(res, 1, count))


def dup_line_frac(c: Column) -> Column:
    """Duplicate-line fraction (a Gopher-style repetition signal,
    public): 1 - distinct_lines/lines. Integer counts + one double
    division → engine-portable. SQL twin:
    1 - len(list_distinct(str_split(x, chr(10)))) / CAST(len(...) AS DOUBLE)."""
    lines = F.split(c, "\n")
    return F.round(
        F.lit(1.0) - F.size(F.array_distinct(lines)) / F.size(lines), 6
    )


def top_bigram_frac(c: Column) -> Column:
    """Share of all word-bigrams taken by the single most frequent one
    (the Gopher top-n-gram repetition filter's n=2 case, public).

    Zero-shuffle formulation: bigrams by zipping shifted token slices
    (the ``word_shingles`` anti-capture pattern), then the max group
    count as a RUN-LENGTH MAX over the *sorted* bigram array inside one
    ``aggregate`` — the accumulator is a bound variable, so the
    per-element struct updates can't re-trigger upstream evaluation.
    The DuckDB twin computes the same value by explode + GROUP BY
    count + max: two genuinely different algorithms agreeing on the
    result, which is what the oracle is for."""
    w = tokens(c)
    n_bg = F.greatest(F.size(w) - F.lit(1), F.lit(0))
    bigrams = F.slice(
        F.zip_with(
            w,
            F.slice(w, 2, F.size(w)),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
        1,
        n_bg,
    )
    best = F.aggregate(
        F.array_sort(bigrams),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )["best"]
    return F.round(F.when(n_bg > 0, best / n_bg).otherwise(F.lit(0.0)), 6)


def chunk_structs(c: Column, window: int = 40, stride: int = 20) -> Column:
    """Overlapping token-window chunks as an array of
    (chunk_text, n_tokens) structs — the context-window preparation
    step of a training/RAG pipeline. Starts at 0, stride, 2·stride, …
    < n_tokens; tail chunks shorter than ``window`` are kept (nothing
    is silently dropped).

    The token array is computed ONCE and bound via the single-element-
    array ``aggregate`` wrapper (the ``_winnow_minima`` pattern): a
    plain transform would re-tokenize per chunk under Catalyst's
    lambda capture. SQL twin: range(0, len(w), stride) + list slices.
    """
    w = tokens(c)
    return F.aggregate(
        F.array(w),
        F.array().cast("array<struct<chunk_text:string,n_tokens:int>>"),
        lambda acc, wb: F.transform(
            F.sequence(F.lit(0), F.size(wb) - F.lit(1), F.lit(stride)),
            lambda s: F.struct(
                F.array_join(F.slice(wb, s + 1, F.lit(window)), " ").alias(
                    "chunk_text"
                ),
                F.least(F.lit(window), F.size(wb) - s).cast("int").alias("n_tokens"),
            ),
        ),
    )


# PII patterns, written to the common subset of Java regex (Spark) and
# RE2 (DuckDB): no lookaround, no backreferences. \b and bounded
# repetition are supported identically by both.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
PII_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_counts(c: Column) -> tuple[Column, Column, Column]:
    """(n_emails, n_phones, n_ips) match counts. SQL twin:
    len(regexp_extract_all(x, pat)) per pattern."""
    return (
        F.regexp_count(c, F.lit(PII_EMAIL_RE)).cast("int"),
        F.regexp_count(c, F.lit(PII_PHONE_RE)).cast("int"),
        F.regexp_count(c, F.lit(PII_IP_RE)).cast("int"),
    )


def pii_redact(c: Column) -> Column:
    """Replace every PII match with a typed placeholder. Email first:
    its local part may contain digits/dots that the later numeric
    patterns could otherwise nibble at. SQL twin: the same three
    regexp_replace calls with the 'g' flag (DuckDB replaces only the
    first match by default; Spark replaces all)."""
    out = F.regexp_replace(c, PII_EMAIL_RE, "[EMAIL]")
    out = F.regexp_replace(out, PII_PHONE_RE, "[PHONE]")
    return F.regexp_replace(out, PII_IP_RE, "[IP]")


# BPE-ish subword-count estimator: words + standalone punctuation,
# long words counted once per 4 chars (public rule-of-thumb for BPE
# vocab token inflation). SQL twin mirrors the same two regexp counts.
_BPE_WORD_RE = r"[A-Za-z0-9]+"
_BPE_PUNCT_RE = r"[^A-Za-z0-9\s]"


def token_estimate(c: Column) -> Column:
    """Estimated subword-token count: one per word-chunk of ≤4 chars
    (ceil(len/4) per word via total-chars/4 bound) plus punctuation.
    Deterministic integer arithmetic — engine-portable."""
    n_words = F.regexp_count(c, F.lit(_BPE_WORD_RE))
    word_chars = F.length(F.regexp_replace(c, r"[^A-Za-z0-9]", ""))
    n_punct = F.regexp_count(c, F.lit(_BPE_PUNCT_RE))
    # each word costs at least 1 token; chars beyond 4 per word add
    # ceil(extra/4): (word_chars - 4*n_words) clamped at 0
    extra = F.greatest(word_chars - n_words * 4, F.lit(0))
    return (n_words + F.floor((extra + 3) / 4).cast("int") + n_punct).alias(
        "token_estimate"
    )
