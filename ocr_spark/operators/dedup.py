"""Corpus deduplication operators: exact, n-gram Jaccard, MinHash+LSH,
SimHash.

All four are **pure Catalyst expressions** — no Python UDFs — so the
whole family runs JVM-side with whole-stage codegen and scales by
shuffle width alone. Portability rule (shared with the DuckDB oracle):
the only hash used anywhere is ``md5`` over strings, compared/min'd as
fixed-width hex strings; lexicographic order of the hex equals numeric
order of the 128-bit value, so ``min(md5(x))`` IS a valid MinHash
permutation and every engine agrees on it bit-for-bit.

Scale design (the 100 TB story):

- **exact**: one shuffle on the 32-hex fingerprint; map-side partial
  aggregation shrinks it to ~unique-count.
- **n-gram Jaccard**: inverted-index self-join on shingle — standard,
  but unbounded posting lists on hot shingles. Kept as the *exact*
  verifier; at scale the candidate generator must be LSH, not this.
- **MinHash+LSH**: signatures are a shuffle-FREE projection (one
  fused aggregate over the shingle array, ``_band_buckets_expr`` —
  pipelines with the scan); banding turns pair discovery into an
  equi-join on (band, band_hash) — shuffle is O(docs × bands), never O(docs²);
  verification is per-pair array_intersect. Hot buckets are bounded by
  ``LSH_MAX_BUCKET`` (skew guard: a bucket with B docs yields B² pairs).
- **SimHash**: 64-bit signature from per-bit majority vote over token
  hashes; near-dup = equal signature (or equal band for Hamming<k).

Reference lineage: the reference dedups uploads by name on append
(``docOcrWeb/src/App.jsx:63-83``, SURVEY.md J5) and fingerprints
nothing; these operators are the corpus-scale generalization the
north brief asks for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.functions.text import fingerprint, word_shingles

DEFAULT_NUM_HASHES = 8
DEFAULT_BANDS = 4  # rows per band = num_hashes // bands
LSH_MAX_BUCKET = 64  # docs per LSH (band, bucket) before it is dropped
WINNOW_MAX_POSTINGS = 4  # docs per winnowing fingerprint before it is dropped
_WINNOW_K = 8  # chars per winnowing gram
_WINNOW_W = 4  # grams per winnowing window

# double-hashing g_i = a + i*b with 60-bit a,b stays under 2^63 only
# for i <= 7; beyond that Spark's (non-ANSI) BIGINT silently wraps
# while DuckDB raises -- an undetectable cross-engine divergence, so
# the bound is enforced, not documented-only
MAX_NUM_HASHES = 8


def _check_num_hashes(num_hashes: int) -> None:
    if num_hashes > MAX_NUM_HASHES:
        raise ValueError(
            f"num_hashes ({num_hashes}) > {MAX_NUM_HASHES}: the "
            f"double-hashing permutation a + i*b uses 60-bit bases, so "
            f"i > 7 overflows 2^63 -- Spark would wrap silently while "
            f"the DuckDB oracle raises (undetected divergence)"
        )


def _materialize_shingles(arr: DataFrame) -> DataFrame:
    """Materialize the shingle table once, scoped to this call: a
    ``localCheckpoint`` stores the computed partitions (MEMORY_AND_DISK)
    and truncates lineage, and -- unlike ``persist``, whose CacheManager
    entry outlives the caller -- the stored blocks are reclaimed by
    Spark's ContextCleaner as soon as the returned plan is garbage
    collected. No module-global state, nothing for a second call to
    clobber, and re-executing the result reuses the stored blocks.
    Without a materialization boundary Catalyst's projection collapse
    would inline the shingle-array expression into every consumer (8
    signature references + both sides of the verify join). On a
    multi-executor cluster, swap for reliable ``checkpoint`` if
    executor loss must never recompute the stage."""
    return arr.localCheckpoint(eager=True)


# Double-hashing MinHash (Kirsch & Mitzenmacher, "Less Hashing, Same
# Performance", 2006 — public): two base hashes per shingle, the k
# permutations derived arithmetically as g_i = (a + i*b) mod 2^60.
# Cuts per-shingle md5 work from k (=8) to 2 with the same MinHash
# guarantees. 60-bit values keep every intermediate (a + 7b < 2^63)
# inside BIGINT range on both engines; Spark's conv(hex,16,10) and
# DuckDB's ('0x'||hex)::BIGINT parse the md5 prefix bit-identically
# (verified), so the oracle runs the exact same arithmetic.
_MINHASH_MOD = 1 << 60


def _hex60(col) -> "F.Column":
    """First 60 bits of md5(col) as a non-negative BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _band_buckets_expr(sh_arr, num_hashes: int, bands: int) -> "F.Column":
    """Per-doc array of per-band bucket hashes, as ONE scalar aggregate
    expression: a single pass over the shingles folds all k running
    minima (zip_with + least), and the finish lambda assembles the band
    buckets from the bound accumulator — no column is ever referenced
    twice across projections, so Catalyst's projection collapse cannot
    re-evaluate the fold (the same anti-inlining shape as _simhash_sig).
    """
    _check_num_hashes(num_hashes)
    r = num_hashes // bands
    mod = F.lit(_MINHASH_MOD).cast("long")

    pairs = F.transform(
        sh_arr,
        lambda x: F.struct(
            _hex60(F.concat(F.lit("h1|"), x)).alias("a"),
            _hex60(F.concat(F.lit("h2|"), x)).alias("b"),
        ),
    )

    def merge(acc, s):
        return F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(num_hashes - 1)),
                lambda i: (s["a"] + i.cast("long") * s["b"]) % mod,
            ),
            lambda p, q: F.least(p, q),
        )

    def finish(acc):
        def bucket(bi):
            parts = [
                F.element_at(acc, (bi * r + j + 1).cast("int")).cast("string")
                for j in range(r)
            ]
            return F.md5(F.concat_ws("|", *parts))

        return F.transform(F.sequence(F.lit(0), F.lit(bands - 1)), bucket)

    zero = F.array_repeat(mod, num_hashes)  # sentinel > any g value
    return F.aggregate(pairs, zero, merge, finish)


def dedup_exact(df: DataFrame) -> DataFrame:
    """Exact duplicate groups by normalized-text fingerprint.
    Returns (fp, keeper, n_dups); keeper = min doc_id (deterministic)."""
    return (
        df.select(fingerprint(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keeper"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def canonical_dedup(df: DataFrame) -> DataFrame:
    """Case/punctuation-insensitive duplicate detection: docs collapse
    to a CANONICAL fingerprint — lowercase, every non-alphanumeric run
    folded to one space, trimmed — before hashing, so trivially-edited
    copies ("Hello, World!" vs "hello world") that exact-md5 dedup
    misses and shingle methods only score fractionally land in the
    same group. The standard first escalation between exact and
    near-dup dedup in a cleaning cascade.

    One regex per row (map-only; the class ``[^a-z0-9]+`` sits in the
    Java∩RE2∩DuckDB-common subset) + one fp-keyed window — shuffle
    carries (id, 32-hex) rows only, same cost as ``dedup_exact``.

    Output (doc_id, canon_fp, n_variants, is_keeper) for EVERY doc:
    keeper = min id per group, like every dedup keeper rule here."""
    from pyspark.sql import Window

    canon = F.trim(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
    )
    keyed = df.select(F.col("doc_id"), F.md5(canon).alias("canon_fp"))
    w = Window.partitionBy("canon_fp")
    return keyed.select(
        "doc_id",
        "canon_fp",
        F.count(F.lit(1)).over(w).alias("n_variants"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_keeper"),
    )


def exploded_shingles(df: DataFrame) -> DataFrame:
    """(id, shingle) pairs, distinct per doc — the inverted-index base."""
    return df.select(
        F.col("doc_id").alias("id"),
        F.explode(word_shingles(F.col("text"))).alias("sh"),
    )


DEFAULT_MAX_POSTINGS = 256


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    max_postings: int = DEFAULT_MAX_POSTINGS,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard ≥ t).

    Self-join on shingle → per-pair intersection count → Jaccard from
    set sizes. Integer counts + one double division → engine-portable.

    ``max_postings`` bounds the inverted-index fan-out (a shingle in P
    docs yields P² join rows): shingles hotter than the cap are dropped
    from the candidate join — the same skew-guard shape as LSH's
    ``LSH_MAX_BUCKET`` and winnowing's posting cap. A dropped shingle still
    counts toward both docs' set sizes, so surviving pairs' Jaccard is
    a (tight) LOWER bound; the denominator stays exact. The default is
    generous — this operator's role is the exact verifier, and a
    3-token shingle shared by >256 docs is boilerplate, not content."""
    sh = exploded_shingles(df)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    postings = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("_p"))
    bounded = sh.join(
        postings.filter(F.col("_p") <= max_postings).select("sh"), "sh"
    )
    pairs = (
        bounded.alias("a")
        .join(bounded.alias("b"), "sh")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def shingle_arrays(df: DataFrame) -> DataFrame:
    """(id, sh_arr, n_sh): a doc's distinct shingles as an array column."""
    return df.select(
        F.col("doc_id").alias("id"),
        word_shingles(F.col("text")).alias("sh_arr"),
    ).withColumn("n_sh", F.size("sh_arr"))


def lsh_candidate_pairs(bucketed: DataFrame) -> DataFrame:
    """Candidate pairs sharing ≥1 LSH band bucket (id_a < id_b,
    distinct), from a (id, buckets array<string>) frame.

    Pair generation is an equi-join on (band, bucket). ``LSH_MAX_BUCKET``
    caps degenerate buckets (boilerplate-heavy corpora) — dropped
    buckets trade recall for a hard bound on join fan-out; at 100 TB
    this is what keeps the stage from quadratic blowup.
    """
    buckets = bucketed.select(
        "id", F.posexplode("buckets").alias("band", "bucket")
    )
    counts = buckets.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("n"))
    small = counts.filter(F.col("n") <= LSH_MAX_BUCKET).select("band", "bucket")
    bounded = buckets.join(small, ["band", "bucket"])
    return (
        bounded.alias("a")
        .join(bounded.alias("b"), ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_dedup(
    df: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """MinHash-LSH near-dup pipeline: signatures → ``DEFAULT_BANDS``
    banded candidates → exact-Jaccard verification of candidates only.

    Output (id_a, id_b, jaccard) — same shape as ``ngram_jaccard_pairs``
    but with LSH-bounded candidate generation (the scale path)."""
    if num_hashes % DEFAULT_BANDS:
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide evenly into bands "
            f"({DEFAULT_BANDS}) — trailing signatures would be silently unused"
        )
    _check_num_hashes(num_hashes)
    # widen BEFORE shingling: the input scan's partition count
    # (file-size-driven, often single-digit for compact inputs) would
    # otherwise run the shingle computation near-serially and cap the
    # parallelism of every downstream stage reading the materialized
    # table (signatures, bucket join, verify)
    arr = _materialize_shingles(
        shingle_arrays(df.repartition(df.sparkSession.sparkContext.defaultParallelism))
    )
    # docs with zero shingles (< text.SHINGLE_N tokens) carry the sentinel
    # accumulator: every such doc would hash to the SAME band buckets
    # and become a mutual candidate (the DuckDB twin's list_min gives
    # NULL buckets, which never join). Values still agree either way —
    # the NULL-jaccard verify filter drops the pairs — but the filter
    # keeps the bucket join structurally identical across engines and
    # out of the skew cap's way.
    bucketed = arr.filter(F.col("n_sh") > 0).select(
        "id", _band_buckets_expr(F.col("sh_arr"), num_hashes, DEFAULT_BANDS).alias("buckets")
    )
    cand = lsh_candidate_pairs(bucketed)
    # exact verify via per-pair array_intersect: two equi-joins to
    # attach each side's shingle array, O(|A|+|B|) intersect per pair
    # — no exploded shingle-stream shuffle
    a = arr.select(
        F.col("id").alias("id_a"), F.col("sh_arr").alias("sh_a"), F.col("n_sh").alias("n_a")
    )
    b = arr.select(
        F.col("id").alias("id_b"), F.col("sh_arr").alias("sh_b"), F.col("n_sh").alias("n_b")
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


_HEX = "0123456789abcdef"


def _simhash_sig(text_col) -> "F.Column":
    """The 64-bit SimHash signature as ONE scalar Catalyst expression.

    tokens → md5 per token (computed once, inside a ``transform`` that
    is the first argument of ``aggregate``) → a 64-slot vote array
    accumulated with ``zip_with`` → hex assembly in the aggregate's
    *finish* lambda. Everything happens per-row in a single projection:
    zero shuffles, zero explodes — at 100 TB the signature stage
    pipelines with the scan, vs. the exploded formulation's 64 shuffled
    rows per token through two groupBys. The finish lambda is the
    anti-inlining trick: the vote array is a *bound lambda variable*
    there, so referencing it 64 times during assembly can't re-evaluate
    the aggregate (Catalyst's projection collapse would re-run an outer
    column capture per reference).

    Same algorithm (and values) as the DuckDB oracle
    ``ORACLE_SQL["simhash_docs"]``, which runs it exploded: slot i =
    4*(hex position) + bit; char digit from per-bit majority vote,
    tie → 0.
    """
    toks = F.array_distinct(F.split(F.trim(text_col), r"\s+"))
    hashes = F.transform(toks, lambda t: F.md5(t))

    def digit_at(h, k):
        """hex char at 1-based position k → its 0..15 value."""
        c = F.ascii(F.substring(h, k, F.lit(1)))
        return (F.when(c >= 97, c - 87).otherwise(c - 48)).cast("int")

    def contribs(h):
        """64 ±1 bit votes for one token hash. Two-level transform so
        each hex digit is decoded ONCE (as a bound lambda value) and
        expanded to its 4 bit votes — higher-order lambdas are
        interpreted, so per-element op count is the constant factor."""
        digits = F.transform(
            F.sequence(F.lit(1), F.lit(16)), lambda k: digit_at(h, k)
        )
        return F.flatten(
            F.transform(
                digits,
                lambda d: F.array(
                    *[(F.shiftright(d, m) % 2 * 2 - 1).cast("int") for m in range(4)]
                ),
            )
        )

    def merge(acc, h):
        return F.zip_with(acc, contribs(h), lambda a, c: a + c)

    def finish(acc):
        def hex_char(k):
            dig = (
                F.when(F.element_at(acc, (k * 4 + 1).cast("int")) > 0, 1).otherwise(0)
                + F.when(F.element_at(acc, (k * 4 + 2).cast("int")) > 0, 2).otherwise(0)
                + F.when(F.element_at(acc, (k * 4 + 3).cast("int")) > 0, 4).otherwise(0)
                + F.when(F.element_at(acc, (k * 4 + 4).cast("int")) > 0, 8).otherwise(0)
            )
            return F.substring(F.lit(_HEX), (dig + 1).cast("int"), F.lit(1))

        return F.array_join(
            F.transform(F.sequence(F.lit(0), F.lit(15)), hex_char), ""
        )

    zero = F.array_repeat(F.lit(0), 64)
    return F.aggregate(hashes, zero, merge, finish)


def simhash(df: DataFrame) -> DataFrame:
    """64-bit SimHash per doc as a 16-hex-char string — the scale path:
    one map-only projection (see ``_simhash_sig``), no shuffle at all.
    Value-identical to the DuckDB oracle ``ORACLE_SQL["simhash_docs"]``
    (asserted in tests/test_plan_shape.py)."""
    return df.select(
        F.col("doc_id").alias("id"), _simhash_sig(F.col("text")).alias("simhash")
    )


def winnow_overlap_pairs(df: DataFrame) -> DataFrame:
    """Passage-copy detection: doc pairs sharing ≥ 3 winnowing
    fingerprints (Schleimer et al. §5 — fingerprint overlap finds
    copied SPANS, where shingle Jaccard only scores whole-doc
    similarity). ``WINNOW_MAX_POSTINGS`` keeps only rare (discriminative)
    fingerprints: a fingerprint appearing in many docs is vocabulary,
    not copying, and would blow the inverted-index join up
    quadratically — the same skew-cap shape as ``LSH_MAX_BUCKET``.
    What the cap discards is quantified (not silent):
    ``corpus.cap_drop_stats`` over the same fps postings — surfaced as
    the ``cap_drop_accounting`` driver query — reports keys/postings
    dropped at the corpus's actual scale.
    Shuffles: fingerprint explode → two groupBys + one equi-join, all
    bounded by the posting cap. The fingerprint stream is consumed
    three times (posting counts, both join sides) — materialized once
    (localCheckpoint, call-scoped like minhash's shingle table) so the
    md5-dense rolling-hash pass runs once, not three times."""
    fps = _materialize_shingles(
        winnow_docs(df).select(
            "doc_id", F.explode("fps").alias("fp")
        )
    )
    counts = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("c"))
    bounded = fps.join(
        counts.filter(F.col("c") <= WINNOW_MAX_POSTINGS).select("fp"), "fp"
    )
    return (
        bounded.alias("a")
        .join(bounded.alias("b"), "fp")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )


def duplicate_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 25,
) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate CLUSTERS: connected
    components over the pair graph, component label = min doc id.

    A corpus dedup pipeline needs clusters, not pairs — "keep one doc
    per duplicate set" is a per-component decision (the keeper here is
    the min id, same rule as ``dedup_exact``). The engine is the
    alternating large-star/small-star formulation (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", 2014): both steps
    hook every node to the minimum of its closed neighborhood, so the
    edge set converges to stars centered on each component's min id in
    O(log²) rounds WORST CASE — independent of graph diameter, unlike
    plain min-label propagation whose round count IS the diameter (a
    chain of passage-copies, doc A→B→C→…, is exactly the adversarial
    input; see tests). Per round: two groupBy-min shuffles + two
    equi-joins, all on id-sized rows; ``localCheckpoint`` truncates
    lineage so round N's plan doesn't replay rounds 1..N-1; the
    driver-side convergence probe is limit(1)-bounded (the standard
    iterative-CC control loop, not a data collect).

    Output: (doc_id, component, is_keeper) for EVERY input doc —
    singletons label themselves.
    """
    nodes = df.select(F.col(id_col).alias("id"))
    # canonical undirected edges (big, small), self-loops dropped
    edges = (
        pairs.select(
            F.greatest("id_a", "id_b").alias("u"), F.least("id_a", "id_b").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)  # pairs plan (LSH) computed once
    )

    def _large_star(e: DataFrame) -> DataFrame:
        """Γ(u) over BOTH orientations; m = min(Γ(u) ∪ {u}); emit
        (v, m) for the strictly-larger neighbors v > u."""
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m = mins.select("u", F.least("u", "mn").alias("m"))
        return (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        """Edges oriented small→big key (u = max endpoint, Γ(u) ≤ u);
        m = min(Γ(u)); hook u and every neighbor except m to m."""
        mins = e.groupBy("u").agg(F.min("v").alias("m"))
        nbrs = e.join(mins, "u").filter(F.col("v") != F.col("m")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        self_edges = mins.select("u", F.col("m").alias("v"))
        return nbrs.union(self_edges).filter(F.col("u") != F.col("v")).distinct()

    for _ in range(max_iters):
        new_edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        changed = (
            new_edges.exceptAll(edges).limit(1).count()
            + edges.exceptAll(new_edges).limit(1).count()
        )
        edges = new_edges
        if changed == 0:
            break
    else:
        # fail loudly: silently-partial labels would diverge from the
        # oracle's exact transitive closure
        raise RuntimeError(
            f"duplicate_components did not converge within {max_iters} "
            f"alternating large-star/small-star rounds — raise max_iters"
        )
    # converged edge set is a star forest: (node, component-min)
    stars = edges.select(F.col("u").alias("id"), F.col("v").alias("comp"))
    return (
        nodes.join(stars, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("comp", "id").alias("component"),
        )
        .withColumn("is_keeper", F.col(id_col) == F.col("component"))
    )


def _winnow_minima(text_col) -> "F.Column":
    """Per-doc winnowing minima as ONE scalar expression: md5 of every
    ``_WINNOW_K``-char gram, then the minimum of each full
    ``_WINNOW_W``-gram window, in window order (empty when the doc has
    fewer than ``_WINNOW_W`` grams).

    The gram-hash array is computed once and then BOUND as a lambda
    variable by wrapping it in a single-element array fed to
    ``aggregate`` — inside the merge lambda it can be referenced per
    window without Catalyst's projection collapse re-evaluating the
    md5 transform (the same anti-inlining shape as ``_simhash_sig`` /
    ``_band_buckets_expr``; a naive transform-over-slices formulation
    re-runs the whole hash array per window → O(n²) md5). Work per doc
    is O(n) md5 + O(n·w) comparisons, all inside one projection."""
    k, w = _WINNOW_K, _WINNOW_W
    n_grams = F.length(text_col) - F.lit(k - 1)
    hashes = F.when(
        n_grams >= 1, F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.md5(F.substring(text_col, i, F.lit(k))),
        )
    ).otherwise(F.array().cast("array<string>"))
    return F.aggregate(
        F.array(hashes),  # 1-element wrapper: binds the hash array
        F.array().cast("array<string>"),
        lambda acc, h: F.when(
            F.size(h) >= w,
            F.transform(
                F.sequence(F.lit(1), F.size(h) - F.lit(w - 1)),
                lambda i: F.array_min(F.slice(h, i, F.lit(w))),
            ),
        ).otherwise(acc),
    )


def winnow_docs(df: DataFrame) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al., public): hash every
    ``_WINNOW_K``-char gram, keep each ``_WINNOW_W``-gram window's
    minimum hash, dedupe + sort.

    Scale path: a single map-only projection (``_winnow_minima``) —
    zero shuffles, zero explodes; the signature stage pipelines with
    the scan at any corpus size (the exploded-window formulation the
    DuckDB oracle runs would shuffle the whole per-character gram
    stream into a per-doc window sort — ~30× the corpus through an
    exchange at 100 TB). Docs too short for one full window
    (< _WINNOW_K + _WINNOW_W - 1 chars) are dropped by a pure length
    predicate, matching the oracle exactly. Output: (doc_id, fps array<string>),
    value-identical to ``ORACLE_SQL["winnow_docs"]`` (asserted in
    tests/test_plan_shape.py).
    """
    text = F.col("text")
    return df.filter(F.length(text) >= F.lit(_WINNOW_K + _WINNOW_W - 1)).select(
        F.col("doc_id"),
        F.array_sort(F.array_distinct(_winnow_minima(text))).alias("fps"),
    )


def keep_best_representative(scored: DataFrame, comps: DataFrame) -> DataFrame:
    """Cluster-representative selection — the final step of the
    near-dedup pipeline users actually run: after LSH pairs resolve
    into duplicate clusters (``duplicate_components``), keep the
    HIGHEST-QUALITY member of each cluster rather than the arbitrary
    min-id (dropping the best-written copy of a passage because it
    drew a larger id is a real corpus-quality loss). ``scored`` is
    (doc_id, quality) — any deterministic score works; ties break to
    the smaller id so the pick is total-ordered. One hash join on id
    plus one window shuffle on component — both linear; component
    cardinality ≈ doc count, so no skew beyond the clusters
    themselves (a pathological mega-cluster is exactly what the LSH
    ``LSH_MAX_BUCKET`` cap upstream prevents).

    Output: (doc_id, component, quality, is_best) for EVERY doc in
    ``comps`` — downstream keeps ``is_best`` rows and drops the rest.
    The join is a LEFT join from comps with a row-level assert on the
    score: a doc missing from ``scored`` fails the job loudly instead
    of silently vanishing from the corpus (the contract is one row per
    comps doc, and an unscored doc has no defensible rank)."""
    from pyspark.sql import Window

    # the guard lives INSIDE the score column (which the window sort
    # consumes) — a guard parked in a dropped side-column would be
    # pruned out of the plan by Catalyst and never fire
    guarded = F.when(F.col("quality").isNotNull(), F.col("quality")).otherwise(
        F.raise_error(
            F.concat(
                F.lit("keep_best_representative: no score for "),
                F.col("doc_id").cast("string"),
            )
        )
    )
    j = (
        comps.select("doc_id", "component")
        .join(scored, "doc_id", "left")
        .withColumn("quality", guarded)
    )
    w = Window.partitionBy("component").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        j.withColumn("_rnk", F.row_number().over(w))
        .withColumn("is_best", F.col("_rnk") == 1)
        .drop("_rnk")
    )


def _winnow_run_starts_expr(text_col) -> "F.Column":
    """Positioned, run-compressed winnowing minima as ONE scalar
    expression: array<struct<pos,fp>> where ``pos`` is the window
    start of each NEW fingerprint run (winnowing minima repeat while
    the same gram stays the window minimum; span detection needs each
    run's start, and a repeated passage later in the doc re-emits its
    fingerprints, so this keeps every local occurrence — richer than
    ``winnow_docs``' global distinct). The minima array
    (``_winnow_minima``) is wrapped in a 1-element array too, so it is
    bound as a lambda variable and computed once: work stays O(n·w)
    per doc inside a single map-side projection."""
    minima = _winnow_minima(text_col)
    empty = F.array().cast("array<struct<pos:int,fp:string>>")
    return F.aggregate(
        F.array(minima),
        empty,
        lambda acc, m: F.when(
            F.size(m) >= 1,
            F.filter(
                F.transform(
                    F.sequence(F.lit(1), F.size(m)),
                    lambda i: F.struct(
                        i.cast("int").alias("pos"), F.element_at(m, i).alias("fp")
                    ),
                ),
                lambda s: (s["pos"] == F.lit(1))
                | (F.element_at(m, s["pos"] - F.lit(1)) != s["fp"]),
            ),
        ).otherwise(acc),
    )


def winnow_run_starts(df: DataFrame) -> DataFrame:
    """(doc_id, pos, fp): one row per run-compressed fingerprint
    occurrence — the positioned input ``winnow_span_runs`` matches on.
    Map-only signature stage (the explode unpacks an already-computed
    array; no window sort over the gram stream)."""
    text = F.col("text")
    return (
        df.filter(F.length(text) >= F.lit(_WINNOW_K + _WINNOW_W - 1))
        .select(
            F.col("doc_id"),
            F.explode(_winnow_run_starts_expr(text)).alias("s"),
        )
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.fp").alias("fp"))
    )


def winnow_span_runs(
    df: DataFrame,
    min_run: int = 3,
    max_postings: int = WINNOW_MAX_POSTINGS,
) -> DataFrame:
    """Duplicated-PASSAGE span detection (the exact-substring dedup of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better", 2021, re-expressed relationally): where
    ``winnow_overlap_pairs`` only counts shared fingerprints per doc
    pair, this recovers the copied spans themselves — maximal runs of
    matched fingerprints that advance in lockstep in both docs.

    Plan: rare-fingerprint inverted index (posting cap = the LSH-style
    skew guard) → self-join on fp → group matches by the DIAGONAL
    ``pa - pb`` (collinear matches = same copied region shifted by a
    constant offset — the classic dotplot/plagiarism-detection trick)
    → gaps-and-islands split where consecutive matched positions jump
    by more than 8 chars → one output row per island with char
    offsets (``a_start..a_end``) in both docs. Every stage is a
    bounded equi-shuffle; the window sort runs per (pair, diagonal),
    which the posting cap keeps small. Output spans feed the same
    span-surgery a training pipeline does: cut the duplicated range
    out of one side instead of dropping whole docs."""
    from pyspark.sql import Window

    occ = _materialize_shingles(winnow_run_starts(df))
    counts = occ.groupBy("fp").agg(F.count(F.lit(1)).alias("c"))
    bounded = occ.join(counts.filter(F.col("c") <= max_postings).select("fp"), "fp")
    m = (
        bounded.alias("a")
        .join(bounded.alias("b"), "fp")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.pos").alias("pa"),
            F.col("b.pos").alias("pb"),
            (F.col("a.pos") - F.col("b.pos")).alias("diag"),
        )
    )
    wd = Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    span_tail = F.lit(_WINNOW_K + _WINNOW_W - 2)  # last gram of the last window
    return (
        m.withColumn(
            "_nf", F.when(F.col("pa") - F.lag("pa").over(wd) > 8, 1).otherwise(0)
        )
        .withColumn(
            "island", F.sum("_nf").over(wd.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy("id_a", "id_b", "diag", "island")
        .agg(
            F.count(F.lit(1)).alias("n_fps"),
            F.min("pa").alias("a_start"),
            (F.max("pa") + span_tail).alias("a_end"),
            F.min("pb").alias("b_start"),
            (F.max("pb") + span_tail).alias("b_end"),
        )
        .filter(F.col("n_fps") >= min_run)
        .drop("island")
    )


def apply_span_surgery(docs: DataFrame, spans: DataFrame) -> DataFrame:
    """SPAN SURGERY — the consumption side of ``winnow_span_runs``:
    instead of dropping a whole doc because one passage is copied, cut
    the copied char range out of the HIGHER-id doc (id_a < id_b by
    construction, so the earlier doc keeps its text — the same
    canonical-keeper rule as exact dedup). At corpus scale this is the
    difference between losing whole documents and losing only the
    duplicated bytes (Lee et al. 2021 report the same motivation for
    substring-level dedup).

    Plan: spans → per-doc overlap merge (sort islands inside a
    doc-partitioned window — span counts per doc are tiny) → one left
    join back to the corpus → the cut itself is ONE scalar fold over
    the merged span array (no explode, no per-char rows; stitches the
    kept segments with substring arithmetic). Output per doc:
    (doc_id, n_spans_cut, n_chars_removed, clean_len, clean_fp) —
    clean text is fingerprinted (md5) so the row stays scalar-cell."""
    from pyspark.sql import Window

    # DISTINCT is load-bearing, not cosmetic: the same (s, e) span
    # reaches a doc once per partner it was copied from, and duplicate
    # sort keys would make the two island windows below order their
    # tied peers independently (the flag window and the prefix-sum
    # window may disagree on which twin is "first", splitting one
    # island into two — observed as a run-to-run flip in DuckDB's
    # parallel window sort). Deduped, (s, e) is unique per doc and the
    # window order is total.
    cut = spans.select(
        F.col("id_b").alias("doc_id"),
        F.col("b_start").alias("s"),
        F.col("b_end").alias("e"),
    ).distinct()
    w = Window.partitionBy("doc_id").orderBy("s", "e")
    prevmax = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    merged = (
        cut.withColumn(
            "nf",
            F.when(F.col("s") > F.coalesce(prevmax, F.lit(-1)), 1).otherwise(0),
        )
        .withColumn(
            "island", F.sum("nf").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy("doc_id", "island")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
    )
    per_doc = merged.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("spans"),
        F.count(F.lit(1)).alias("n_spans_cut"),
        F.sum(F.col("e") - F.col("s") + 1).alias("n_chars_removed"),
    )
    j = docs.select("doc_id", "text").join(per_doc, "doc_id", "left")
    # fold over merged (disjoint, sorted) spans: emit the text between
    # the previous cut's end and this span's start, then jump past it
    stitched = F.expr(
        """
        aggregate(
          spans,
          struct(1 AS pos, '' AS acc),
          (a, x) -> struct(
            x.e + 1 AS pos,
            concat(a.acc, substring(text, a.pos, x.s - a.pos)) AS acc
          ),
          a -> concat(a.acc, substring(text, a.pos, length(text) - a.pos + 1))
        )
        """
    )
    clean = F.when(F.col("spans").isNull(), F.col("text")).otherwise(stitched)
    return j.select(
        "doc_id",
        F.coalesce("n_spans_cut", F.lit(0)).cast("bigint").alias("n_spans_cut"),
        F.coalesce("n_chars_removed", F.lit(0))
        .cast("bigint")
        .alias("n_chars_removed"),
        F.length(clean).cast("bigint").alias("clean_len"),
        F.md5(clean).alias("clean_fp"),
    )


def incremental_dedup(batch: DataFrame, index_fps: DataFrame) -> DataFrame:
    """Dedup a NEW ingest batch against an EXISTING corpus fingerprint
    index — the shape a continuously-crawled 100 TB corpus actually
    runs daily: the historical corpus is never re-read, only its
    fingerprint column (32-hex per doc, ~0.1% of corpus bytes) is
    joined. Generalizes the reference's dedup-on-append J5 (re-upload
    of an already-processed file is a no-op) from one table to a
    batch-vs-index protocol.

    Verdict per batch doc, with index membership taking precedence:

    - ``dup_index``: fingerprint already in the historical index;
    - ``dup_batch``: novel vs the index, but an earlier batch doc
      (min-id first-wins, the keeper rule every dedup here uses)
      has the same fingerprint;
    - ``novel``: first sighting anywhere — the set to append, whose
      fps then extend the index for the next batch.

    Shape: within-batch first-wins is a ``groupBy(fp).min(id)`` plus
    an fp-keyed join back — deliberately NOT a row_number window: a
    pathological hot fingerprint (empty docs, cookie banners — every
    web crawl has one fp with millions of copies) pins a window to a
    single reducer, and AQE's skew handling can split oversized JOIN
    partitions but never a window partition, while the groupBy's
    map-side combine collapses the hot key before it ever shuffles.

    The index probe NEVER shuffles the index (the protocol's whole
    point is index >> batch): the batch's distinct fingerprints —
    batch-sized, the small side by contract — broadcast into a
    LeftSemi prefilter of the index scan, so index membership is
    decided map-side and only the (≤ batch-sized) intersection flows
    into the verdict join. Everything that does shuffle is (id,
    32-hex) batch rows only, never text, on one shared fp key. At
    100 TB additionally keep the index bucketed by fp
    (``bucketBy`` + ``saveAsTable``) so even the index SCAN reads only
    the buckets the batch can hit.

    ``index_fps`` needs one column ``fp``. Output
    (doc_id, fp, verdict) for EVERY batch row. ``doc_id`` should be
    unique per batch row (the usual primary-key contract); rows that
    share both id and fingerprint all tie at ``min(id)`` and are each
    labeled novel — the min-formulation keeps that edge deterministic
    (a row_number would order ties arbitrarily), but dedupe the batch
    on id first if exact-once novel emission matters under id reuse.
    """
    b = batch.select(F.col("doc_id"), fingerprint(F.col("text")).alias("fp"))
    # null-safe keeper join: a NULL-text batch row still gets a verdict
    # (the "every batch row" contract); NULL fps never match the index
    keepers = b.groupBy("fp").agg(F.min("doc_id").alias("first_id")).select(
        F.col("fp").alias("kfp"), "first_id"
    )
    bfps = F.broadcast(b.select("fp").where(F.col("fp").isNotNull()).distinct())
    # membership-equivalent to distinct-ing the whole index: index fps
    # outside the batch could never join b anyway, so prefiltering them
    # out map-side changes nothing downstream
    idx = F.broadcast(
        index_fps.select("fp")
        .join(bfps, "fp", "semi")
        .distinct()
        .withColumn("in_idx", F.lit(True))
    )
    verdict = (
        F.when(F.col("in_idx").isNotNull(), "dup_index")
        .when(F.col("doc_id") != F.col("first_id"), "dup_batch")
        .otherwise("novel")
    )
    return (
        b.join(keepers, F.col("fp").eqNullSafe(F.col("kfp")))
        .join(idx, "fp", "left")
        .select("doc_id", "fp", verdict.alias("verdict"))
    )
