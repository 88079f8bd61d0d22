"""Distributed mergeable sketches: HyperLogLog distinct counting and a
Bloom-filter semi-join pre-filter.

Both are pure Catalyst expressions (no Python UDFs) built from the
engine's portability primitives (ocr_spark/queries.py module
docstring): md5-hex hashing, integer-only register/bit arithmetic, and
a SINGLE final IEEE division — so each has a bit-identical DuckDB
oracle despite being "approximate" algorithms. The approximation is in
the algorithm, not the arithmetic: both engines compute the *same*
registers, the same scaled harmonic sum, the same estimate.

Scale design (the 100 TB story):

- **HLL** is *the* distributed distinct-count shape: the per-row map
  stage emits (group, register_idx, rank); partial aggregation
  (max-per-register) runs map-side, so the shuffle carries at most
  ``groups x m`` rows PER PARTITION regardless of input size — this is
  exactly how a 1000-executor cluster merges sketches (element-wise
  register max is the HLL merge operator, and Spark's partial/final
  HashAggregate pair IS that merge). ``count(DISTINCT x)`` by contrast
  shuffles every distinct value. The harmonic sum is kept EXACT by
  scaling: sum(2^-M_j) * 2^maxrank = sum(1 << (maxrank - M_j)) is
  integer arithmetic (max 2^33 for m=256, far inside int64), so the
  only float op is the final alpha*m^2/S division — identical IEEE in
  both engines. Small-range (linear-counting) correction is
  deliberately not applied: it needs ln(), whose libm rounding is not
  guaranteed identical across engines; callers in the linear regime
  (est <= 2.5m) should read ``zero_registers`` and correct driver-side.
- **Bloom semi-join** is the classic runtime-filter pattern (what
  Spark's AQE bloom join injects automatically) made explicit and
  portable: the needle side's keys are folded into a sparse bitset
  (one partial-agg shuffle of at most ``BLOOM_BITS/32`` words), broadcast
  as a single map row, and the probe side is then MAP-ONLY — no
  shuffle of the 100 TB fact table to discover that most rows match
  nothing. False positives are quantified exactly (the stats row
  carries fp count and rate); false negatives are impossible by
  construction and asserted in tests.

Reference lineage: the reference has no sketches (single-doc service);
these generalize its J5 dedup-on-append / fingerprint semantics
(``OCR API 2/ocr_utils.py:15-41``) to the cardinality-estimation and
join-pruning operations a corpus-scale engine needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------

HLL_P = 8  # 2^8 = 256 registers; standard error 1.04/sqrt(256) ~ 6.5%


def hll_consts(p: int) -> tuple[int, int, float]:
    """(m, maxrank, numerator) for register-count exponent ``p`` —
    the standard Flajolet alpha table for small m, the asymptotic
    formula above it. Bounds: p >= 4 (alpha undefined below), and
    p <= 26 so the scaled harmonic sum m * 2^maxrank = 2^33 stays
    far under 2^63 on both engines."""
    if not 4 <= p <= 26:
        raise ValueError(f"p ({p}) out of range [4, 26]")
    m = 1 << p
    if p == 4:
        alpha = 0.673
    elif p == 5:
        alpha = 0.697
    elif p == 6:
        alpha = 0.709
    else:
        alpha = 0.7213 / (1.0 + 1.079 / m)
    maxr = 32 - p + 1
    return m, maxr, alpha * m * m * float(1 << maxr)


# m registers; 32-bit hash, p index bits -> (32 - p)-bit pattern field,
# rank in [1, maxrank = 32 - p + 1]. Scaling the harmonic sum by
# 2^maxrank keeps every term a positive integer power of two: max sum
# = m * 2^maxrank = 2^(8+25) = 2^33 << 2^63. The numerator
# alpha_m * m^2 * 2^maxrank is computed ONCE here and interpolated into
# both the Spark plan and the DuckDB oracle as the same double literal
# (multiplying a double by exact powers of two is exact, so the
# constant is bit-identical however either engine re-parses its repr).
HLL_M, HLL_MAXRANK, HLL_NUMERATOR = hll_consts(HLL_P)


def _hll_h32(key_str_col) -> "F.Column":
    """32-bit hash: first 8 hex chars of a salted md5 (always >= 0)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit("hll|"), key_str_col)), 1, 8), 16, 10
    ).cast("long")


def hll_registers(
    df: DataFrame, key_col: str, group_col: str, p: int = HLL_P
) -> DataFrame:
    """Per-group HLL registers (grp, idx, mr) — the mergeable sketch
    state. Merging two sketches = unioning register tables and taking
    max(mr) per (grp, idx), which is exactly what the partial/final
    HashAggregate pair of the groupBy below already does across
    partitions.

    NULL keys are filtered before hashing: a NULL contributes no
    distinct value, and md5(NULL) would otherwise mint a phantom
    NULL-idx register row that inflates registers_used without adding
    to the harmonic sum."""
    m, maxr, _ = hll_consts(p)
    df = df.filter(F.col(key_col).isNotNull())
    h32 = _hll_h32(F.col(key_col).cast("string"))
    w = F.shiftright(h32, p)  # (32-p)-bit pattern field
    rank = F.when(w == 0, F.lit(maxr)).otherwise(
        # conv(w, 10, 2) has no leading zeros, so its length is the bit
        # length of w; leading zeros in the field = (32-p) - bitlen,
        # rank = leading zeros + 1 = maxr - bitlen
        F.lit(maxr) - F.length(F.conv(w, 10, 2))
    )
    return (
        df.select(
            F.col(group_col).alias("grp"),
            (h32 % m).alias("idx"),
            rank.alias("r"),
        )
        .groupBy("grp", "idx")
        .agg(F.max("r").alias("mr"))
    )


def hll_distinct(
    df: DataFrame,
    key_col: str,
    group_col: str,
    p: int = HLL_P,
    include_exact: bool = True,
) -> DataFrame:
    """Per-group HyperLogLog distinct-count estimate of ``key_col``.

    Output (group_col, registers_used, zero_registers, s_scaled,
    est_distinct[, exact_distinct, rel_err_bp]). ``s_scaled`` is the
    exact integer-scaled harmonic sum (the sketch's serializable
    scalar summary); ``est_distinct = floor(alpha*m^2 / S)`` is the
    raw HLL estimate (valid regime: >= 2.5*m distinct keys; below
    that, apply linear counting driver-side from zero_registers).

    ``include_exact=True`` joins an exact countDistinct for side-by-
    side error reporting (rel_err_bp = basis points) — drop it at
    scale; the sketch path alone never shuffles more than groups*m
    rows per partition.

    All constants (m, maxrank, alpha numerator) derive from ``p`` via
    ``hll_consts`` — any p in [4, 26] works; the shipped DuckDB oracle
    interpolates the p=8 constants, so non-default precisions are
    pytest-gated (merge-property + error-bound tests), not hash-gated."""
    m, maxr, numerator = hll_consts(p)
    regs = hll_registers(df, key_col, group_col, p)
    agg = regs.groupBy("grp").agg(
        F.count("*").alias("registers_used"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {maxr} - mr)")).alias("s_present"),
    )
    sketch = agg.select(
        "grp",
        "registers_used",
        (F.lit(m) - F.col("registers_used")).cast("long").alias("zero_registers"),
        (
            F.col("s_present")
            + (F.lit(m) - F.col("registers_used")) * F.lit(1 << maxr)
        ).alias("s_scaled"),
    ).withColumn(
        "est_distinct",
        F.floor(F.lit(numerator) / F.col("s_scaled")).cast("long"),
    )
    if not include_exact:
        return sketch.withColumnRenamed("grp", group_col)
    exact = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.countDistinct(key_col).alias("exact_distinct")
    )
    return (
        sketch.join(exact, "grp")
        .withColumn(
            "rel_err_bp",
            F.floor(
                F.abs(F.col("est_distinct") - F.col("exact_distinct"))
                * F.lit(10000.0)
                / F.col("exact_distinct")
            ).cast("long"),
        )
        .withColumnRenamed("grp", group_col)
    )


# ---------------------------------------------------------------------------
# Count-min sketch (frequency estimation)
# ---------------------------------------------------------------------------

CMS_DEPTH = 4  # rows; error probability ~ e^-d
CMS_WIDTH = 1024  # counters per row; overestimate bound ~ (e/w) * N


def _cms_col(item_str_col, i: int) -> "F.Column":
    """Counter column for hash row i: 60-bit md5 prefix mod CMS_WIDTH."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"cm{i}|"), item_str_col)), 1, 15), 16, 10
        ).cast("long")
        % CMS_WIDTH
    )


def count_min_counters(df: DataFrame, item_col: str) -> DataFrame:
    """The count-min counter table (row, col, c) — the mergeable sketch
    state: merging two sketches = unioning counter tables and SUMMING
    per (row, col), which is what the partial/final HashAggregate pair
    of the groupBy does across partitions. The shuffle carries at most
    CMS_DEPTH*CMS_WIDTH counters per partition regardless of input size."""
    s = F.col(item_col).cast("string")
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("row"), _cms_col(s, i).alias("col"))
                    for i in range(CMS_DEPTH)
                ]
            )
        ).alias("p")
    )
    return pairs.groupBy(F.col("p.row").alias("row"), F.col("p.col").alias("col")).agg(
        F.count("*").alias("c")
    )


def cms_top_frequencies(df: DataFrame, item_col: str) -> DataFrame:
    """Count-min frequency estimates for the 20 most frequent
    items (deterministic probe set: count desc, item asc), with the
    exact count joined in for side-by-side error.

    Output (item_col, est_count, exact_count, overestimate) — pure
    integer arithmetic end to end (no floats anywhere), so the oracle
    match is trivially bit-exact. CMS can only OVERcount (collisions
    add, never subtract): overestimate >= 0 always, bounded by
    ~(e/CMS_WIDTH)*N per probe with probability 1 - e^-CMS_DEPTH. The
    counter table is CMS_DEPTH*CMS_WIDTH cells, broadcast to the probe
    join; the input stream is touched once with a partially-aggregated
    groupBy."""
    from pyspark.sql import Window

    counters = count_min_counters(df, item_col)
    exact = df.groupBy(F.col(item_col).alias("item")).agg(
        F.count("*").alias("exact_count")
    )
    probes = (
        exact.withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("exact_count").desc(), F.col("item").asc())
            ),
        )
        .filter(F.col("rn") <= 20)
        .drop("rn")
    )
    s = F.col("item").cast("string")
    lookups = probes.select(
        "item",
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("row"), _cms_col(s, i).alias("col"))
                    for i in range(CMS_DEPTH)
                ]
            )
        ).alias("p"),
    ).select("item", "exact_count", F.col("p.row").alias("row"), F.col("p.col").alias("col"))
    return (
        lookups.join(F.broadcast(counters), ["row", "col"])
        .groupBy("item", "exact_count")
        .agg(F.min("c").alias("est_count"))
        .select(
            F.col("item").alias(item_col),
            "est_count",
            "exact_count",
            (F.col("est_count") - F.col("exact_count")).alias("overestimate"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter semi-join pre-filter
# ---------------------------------------------------------------------------

BLOOM_BITS = 65536  # 2^16 bits in 2048 32-bit-per-word slots
BLOOM_K = 2  # two salted md5-derived hash positions per key


def _bloom_pos(key_str_col, i: int) -> "F.Column":
    """Bit position i for a key: 60-bit md5 prefix mod BLOOM_BITS."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"bf{i}|"), key_str_col)), 1, 15), 16, 10
        ).cast("long")
        % BLOOM_BITS
    )


def bloom_build(needles: DataFrame, key_col: str) -> DataFrame:
    """Fold the needle keys into a sparse bitset: ONE row holding a
    map<word_idx, bits> (word = 32 bits in an int64, so every mask is
    positive and portable). The groupBy is partially aggregated —
    the shuffle carries at most BLOOM_BITS/32 words per partition no
    matter how many needles there are."""
    ks = needles.select(F.col(key_col).cast("string").alias("key")).distinct()
    pos = ks.select(
        F.explode(
            F.array(*[_bloom_pos(F.col("key"), i) for i in range(BLOOM_K)])
        ).alias("pos")
    )
    words = pos.groupBy(F.shiftright("pos", 5).alias("w")).agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT)))").alias(
            "bits"
        )
    )
    return words.agg(
        F.map_from_entries(F.collect_list(F.struct("w", "bits"))).alias("bloom")
    )


def bloom_semijoin_stats(
    fact: DataFrame,
    needles: DataFrame,
    fact_key: str,
    needle_key: str,
) -> DataFrame:
    """Probe every fact row against the needle-side Bloom filter and
    report the pre-filter's exact effectiveness in one stats row:

    (n_fact, n_candidates, n_true_matches, n_false_pos, fp_rate_bp)

    The probe is MAP-ONLY (bloom row broadcast via crossJoin; two
    md5+mask tests per row); the exact semi-join that a real pipeline
    would run **on the candidates only** is evaluated here over all
    rows purely to measure the false-positive rate. No false negatives
    are possible: every needle key set its own bits."""
    bloom = bloom_build(needles, needle_key)
    true_keys = needles.select(F.col(needle_key).alias("tk")).distinct()
    probe = fact.select(
        F.col(fact_key).alias("fk"),
        *[
            _bloom_pos(F.col(fact_key).cast("string"), i).alias(f"p{i}")
            for i in range(BLOOM_K)
        ],
    )
    hits = [
        (
            F.coalesce(
                F.element_at("bloom", F.shiftright(F.col(f"p{i}"), 5)),
                F.lit(0).cast("long"),
            ).bitwiseAND(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(p{i} % 32 AS INT))")
            )
            != 0
        )
        for i in range(BLOOM_K)
    ]
    cand = hits[0]
    for h in hits[1:]:
        cand = cand & h
    probed = (
        probe.crossJoin(F.broadcast(bloom))
        .withColumn("cand", cand)
        .join(F.broadcast(true_keys), F.col("fk") == F.col("tk"), "left")
        .withColumn("is_true", F.col("tk").isNotNull())
    )
    stats = probed.agg(
        F.count("*").alias("n_fact"),
        F.sum(F.col("cand").cast("long")).alias("n_candidates"),
        F.sum(F.col("is_true").cast("long")).alias("n_true_matches"),
        F.sum((F.col("cand") & ~F.col("is_true")).cast("long")).alias("n_false_pos"),
    )
    negatives = F.col("n_fact") - F.col("n_true_matches")
    return stats.withColumn(
        "fp_rate_bp",
        F.when(negatives == 0, F.lit(0).cast("long")).otherwise(
            F.floor(F.col("n_false_pos") * F.lit(10000.0) / negatives).cast("long")
        ),
    )
