"""Embedding similarity search: brute-force cosine top-k (baseline) and
a sign-bucket LSH variant (the scale path).

Determinism contract (shared with the DuckDB oracle): the dot product
and norms are **generated left-to-right expression chains** over fixed
``dim`` components, each cast to double before multiply — a sequential
IEEE-754 fold that every engine evaluates bit-identically (no
reduce-order ambiguity, unlike SUM over an exploded view). Ranking ties
break on vec_id.

Scale story:

- **Brute force** is a broadcast nested loop: queries (small) are
  broadcast against the full corpus — one scan, no shuffle of the big
  side, O(Q×N) flops JVM-side under codegen. Correct baseline + the
  verifier for the ANN path.
- **Sign-LSH** buckets vectors by the sign pattern of their first
  ``bits`` components (a fixed-hyperplane SimHash — axis-aligned
  planes keep it expressible in ANSI SQL). Candidates share a bucket →
  the join is an equi-join on the bucket key; probing flips are cheap
  to add. Recall is approximate by design; the oracle runs the *same
  algorithm*, so correctness checks algorithm fidelity, while
  ``tests/`` check recall against brute force.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

EMB_DIM = 64
# cosine_neardup_lsh's default banding, the one its SQL twin runs:
# sign components per band, bands, and docs per (band, bucket)
SIGN_LSH_BITS = 8
SIGN_LSH_BANDS = 8
SIGN_LSH_MAX_BUCKET = 256


def dot_expr(a: str, b: str, dim: int = EMB_DIM) -> Column:
    """Left-to-right chained dot product (Spark arrays are 0-indexed)."""
    terms = " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)" for i in range(dim)
    )
    return F.expr(terms)


def norm_expr(a: str, dim: int = EMB_DIM) -> Column:
    terms = " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({a}[{i}] AS DOUBLE)" for i in range(dim)
    )
    return F.expr(f"SQRT({terms})")


def dot_sql(a: str, b: str) -> str:
    """The same chain in ANSI/DuckDB SQL (1-indexed lists)."""
    return " + ".join(
        f"CAST({a}[{i + 1}] AS DOUBLE) * CAST({b}[{i + 1}] AS DOUBLE)"
        for i in range(EMB_DIM)
    )


def norm_sql(a: str) -> str:
    return (
        "SQRT("
        + " + ".join(
            f"CAST({a}[{i + 1}] AS DOUBLE) * CAST({a}[{i + 1}] AS DOUBLE)"
            for i in range(EMB_DIM)
        )
        + ")"
    )


def _cosine(a: str, b: str, dim: int) -> Column:
    """Cosine of two embedding columns, rounded to 6 places before any
    ranking or threshold compares it (the oracle rounds the same way)."""
    return F.round(dot_expr(a, b, dim) / (norm_expr(a, dim) * norm_expr(b, dim)), 6)


def _queries(emb: DataFrame, n: int) -> DataFrame:
    """The first ``n`` vec_ids as the query side: (q_id, q_emb)."""
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )


def _rank_topk(cand: DataFrame, k: int, dim: int) -> DataFrame:
    """Score (q_id, q_emb) × (vec_id, embedding) candidate rows and keep
    each query's ``k`` most similar; ties break on the lower vec_id.
    Output (q_id, vec_id, sim, rank)."""
    scored = cand.withColumn("sim", _cosine("q_emb", "embedding", dim))
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "sim", "rank")
    )


def _brute_topk(pool: DataFrame, queries: DataFrame, k: int, dim: int) -> DataFrame:
    """Broadcast the queries against every ``pool`` vector but their own."""
    cand = pool.crossJoin(F.broadcast(queries)).filter(F.col("vec_id") != F.col("q_id"))
    return _rank_topk(cand, k, dim)


def _pair_side(emb: DataFrame, side: str) -> DataFrame:
    return emb.select(
        F.col("vec_id").alias(f"id_{side}"), F.col("embedding").alias(f"e_{side}")
    )


def _verify_pairs(pairs: DataFrame, threshold: float, dim: int) -> DataFrame:
    """Exact cosine of (id_a, e_a, id_b, e_b) pairs, kept at sim ≥ threshold."""
    return (
        pairs.withColumn("sim", _cosine("e_a", "e_b", dim))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def cosine_topk(emb: DataFrame, k: int = 3) -> DataFrame:
    """Brute-force cosine top-k: first 10 vec_ids as queries, broadcast
    against the full table. Output (q_id, vec_id, sim, rank)."""
    return _brute_topk(emb, _queries(emb, 10), k, EMB_DIM)


def sign_bucket(col: str, bits: int = 8, offset: int = 0) -> Column:
    """Axis-aligned sign-LSH bucket key: '+'/'-' per component in
    ``[offset, offset + bits)`` — ``offset`` lets banded callers key
    each hash table on a disjoint component slice."""
    chars = [
        F.when(F.expr(f"CAST({col}[{offset + i}] AS DOUBLE)") >= 0, F.lit("+")).otherwise(
            F.lit("-")
        )
        for i in range(bits)
    ]
    return F.concat(*chars)


def sign_bucket_sql(col: str, offset: int = 0) -> str:
    """DuckDB twin of ``sign_bucket`` at ``SIGN_LSH_BITS`` bits."""
    parts = " || ".join(
        f"(CASE WHEN CAST({col}[{offset + i + 1}] AS DOUBLE) >= 0 THEN '+' ELSE '-' END)"
        for i in range(SIGN_LSH_BITS)
    )
    return f"({parts})"


def cosine_neardup(emb: DataFrame, threshold: float = 0.4) -> DataFrame:
    """Exact embedding near-dup pairs (vec_id_a < vec_id_b, sim ≥ t).
    O(N²) verifier — the LSH variant below is the scale path."""
    pairs = _pair_side(emb, "a").crossJoin(_pair_side(emb, "b"))
    return _verify_pairs(pairs.filter(F.col("id_a") < F.col("id_b")), threshold, EMB_DIM)


def cosine_neardup_lsh(
    emb: DataFrame,
    threshold: float = 0.4,
    bits: int = SIGN_LSH_BITS,
    n_bands: int = SIGN_LSH_BANDS,
    max_bucket: int = SIGN_LSH_MAX_BUCKET,
    dim: int = EMB_DIM,
) -> DataFrame:
    """Banded sign-LSH near-dup pairs (id_a < id_b, sim ≥ t): candidate
    generation via ``n_bands`` independent sign-hash tables, exact
    cosine verification of candidates only.

    Scale contract (the 100 TB guards):

    - **Banding.** Band ``l`` keys on the sign pattern of components
      ``[l*bits, (l+1)*bits)``. A pair is a candidate if ANY band
      agrees — recall 1-(1-p^bits)^n_bands instead of the single-table
      p^bits, the same OR-of-ANDs trade MinHash banding makes
      (dedup.py). A single table at small ``bits`` is NOT a substitute:
      it has 2^bits buckets TOTAL, so every bucket holds ~N/2^bits
      vectors and the self-join is quadratic in corpus size.
    - **Per-(band, bucket) ``max_bucket`` cap.** Buckets hotter than
      the cap are dropped from the candidate join (recall traded for a
      hard fan-out bound — the same guard as ``lsh_candidate_pairs``).
      Worst-case pair work is thus ≤ n_bands × (N/max_bucket buckets) ×
      C(max_bucket, 2) — linear in N — no matter how degenerate the
      sign distribution is.
    - **Payload-free pair shuffle.** Candidates are generated from
      (vec_id, band, bucket) rows only; the dim-float vectors join back
      for the verify, bounded by candidate volume.

    ``bits × n_bands`` must fit in ``dim``. At production scale pick
    bits ≈ log2(N / max_bucket) and spend remaining dims on bands.
    """
    if bits * n_bands > dim:
        raise ValueError(
            f"bits ({bits}) × n_bands ({n_bands}) exceeds dim ({dim}) — "
            "bands must key on disjoint component slices"
        )
    buckets = emb.select(
        "vec_id",
        F.posexplode(
            F.array(*[sign_bucket("embedding", bits, l * bits) for l in range(n_bands)])
        ).alias("band", "bucket"),
    )
    counts = buckets.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("n"))
    small = counts.filter(F.col("n") <= max_bucket).select("band", "bucket")
    bounded = buckets.join(small, ["band", "bucket"])
    cand = (
        bounded.alias("a")
        .join(bounded.alias("b"), ["band", "bucket"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .distinct()
    )
    pairs = cand.join(_pair_side(emb, "a"), "id_a").join(_pair_side(emb, "b"), "id_b")
    return _verify_pairs(pairs, threshold, dim)


def neardup_lsh_sql(threshold: float = 0.4) -> str:
    """DuckDB twin of ``cosine_neardup_lsh`` at its default banding —
    identical algorithm (banding, cap, verify), identical fold order,
    1-indexed lists."""
    bands = "\n  UNION ALL ".join(
        f"SELECT vec_id, {l} AS band, "
        f"{sign_bucket_sql('embedding', l * SIGN_LSH_BITS)} AS bucket FROM embeddings"
        for l in range(SIGN_LSH_BANDS)
    )
    dot = dot_sql("ea.embedding", "eb.embedding")
    na = norm_sql("ea.embedding")
    nb = norm_sql("eb.embedding")
    return f"""
WITH wb AS (
  {bands}
),
ok AS (
  SELECT band, bucket FROM wb GROUP BY band, bucket HAVING count(*) <= {SIGN_LSH_MAX_BUCKET}
),
bounded AS (
  SELECT wb.vec_id, wb.band, wb.bucket FROM wb JOIN ok USING (band, bucket)
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bounded a JOIN bounded b USING (band, bucket)
  WHERE a.vec_id < b.vec_id
)
SELECT c.id_a, c.id_b,
       round(({dot}) / (({na}) * ({nb})), 6) AS sim
FROM cand c
JOIN embeddings ea ON ea.vec_id = c.id_a
JOIN embeddings eb ON eb.vec_id = c.id_b
WHERE round(({dot}) / (({na}) * ({nb})), 6) >= {threshold}
"""


def cosine_topk_filtered(
    emb: DataFrame,
    allowed_ids: DataFrame,
    n_queries: int = 10,
    k: int = 3,
) -> DataFrame:
    """Pre-filtered ANN ("filtered vector search"): cosine top-k where
    candidates are restricted to ``allowed_ids`` (one ``vec_id``
    column) BEFORE any distance work — the retrieval pattern behind
    metadata-scoped search (lang = 'en', quality ≥ t, source = X).

    Pre- vs post-filter matters at scale: post-filtering a plain
    top-k under a selective predicate returns < k rows (or forces
    k/selectivity over-fetch); pre-filtering does the key-sized
    semi-join first, so the O(dim) cosine runs only on survivors.
    When the metadata lives in the vector table itself the predicate
    pushes into the scan instead and the join disappears — this
    operator is the two-table form.

    Output (q_id, vec_id, sim, rank) — rank over the filtered pool."""
    pool = emb.join(allowed_ids.select("vec_id").distinct(), "vec_id")
    return _brute_topk(pool, _queries(emb, n_queries), k, EMB_DIM)


def semantic_decontaminate(
    emb: DataFrame,
    n_eval: int = 20,
    threshold: float = 0.4,
    dim: int = EMB_DIM,
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag corpus vectors
    whose max cosine to ANY held-out eval vector reaches ``threshold``
    — the semantic complement of the n-gram `decontaminate` operator
    (paraphrased eval leakage carries no shingle overlap; this is the
    practice behind e.g. the Phi/Llama-3 embedding-decontamination
    passes, public reports).

    Scale shape: the eval set is the SMALL side (thousands of rows at
    most) and is broadcast; the corpus is scanned once with a
    broadcast-NL join — no shuffle of the big side, same plan as
    ``cosine_topk``. The per-row reduction (max over rounded sims) is
    fold-order-free, so results are partition-layout independent.

    Output (vec_id, max_eval_sim, contaminated) for every corpus
    (non-eval) vector."""
    evals = emb.filter(F.col("vec_id") < n_eval).select(
        F.col("vec_id").alias("e_id"), F.col("embedding").alias("e_emb")
    )
    corpus = emb.filter(F.col("vec_id") >= n_eval)
    scored = corpus.crossJoin(F.broadcast(evals)).withColumn(
        "sim", _cosine("e_emb", "embedding", dim)
    )
    return scored.groupBy("vec_id").agg(
        F.max("sim").alias("max_eval_sim"),
        (F.max("sim") >= F.lit(threshold)).alias("contaminated"),
    )


def knn_label_propagation(
    emb: DataFrame,
    n_queries: int = 30,
    k: int = 5,
    dim: int = EMB_DIM,
) -> DataFrame:
    """kNN label propagation (auto-labeling): treat the first
    ``n_queries`` vectors as unlabeled and predict each one's label by
    majority vote among its ``k`` nearest labeled neighbors (cosine) —
    the distributed form of the classifier used to transfer quality /
    topic / safety labels from a small annotated pool onto a corpus.

    Deterministic end to end: sims round to 6 before ranking, neighbor
    ties break on vec_id, vote ties break on the smaller label. Scale
    shape: queries broadcast against one corpus scan (broadcast-NL,
    no big-side shuffle); the vote is a (query × k)-sized groupBy.
    With a larger query side, swap the candidate stage for the IVF
    cell join (``ivf_topk_seeded``) — the vote logic is unchanged.

    Output (vec_id, predicted_label, votes)."""
    labeled = emb.filter(F.col("vec_id") >= n_queries)
    scored = labeled.crossJoin(F.broadcast(_queries(emb, n_queries))).withColumn(
        "sim", _cosine("q_emb", "embedding", dim)
    )
    w_nn = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    nn = scored.withColumn("rk", F.row_number().over(w_nn)).filter(F.col("rk") <= k)
    votes = nn.groupBy("q_id", "label").agg(F.count(F.lit(1)).alias("votes"))
    w_v = Window.partitionBy("q_id").orderBy(F.col("votes").desc(), F.col("label").asc())
    return (
        votes.withColumn("pr", F.row_number().over(w_v))
        .filter(F.col("pr") == 1)
        .select(
            F.col("q_id").alias("vec_id"),
            F.col("label").alias("predicted_label"),
            "votes",
        )
    )


def label_centroid_count(emb: DataFrame) -> DataFrame:
    """Per-label vector counts + exact (decimal-summed) centroid of the
    first component — demonstrates order-independent float aggregation:
    components go through DECIMAL(25,9) so the sum is exact regardless
    of partitioning, then back to double for output."""
    return (
        emb.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # cast the exact decimal sum to double BEFORE dividing —
            # decimal-division scale rules differ across engines
            (
                F.sum(F.expr("CAST(CAST(embedding[0] AS DOUBLE) AS DECIMAL(25,9))")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("centroid_c0"),
        )
        .withColumn("centroid_c0", F.round(F.col("centroid_c0"), 6))
    )


def _quant_code_expr(i: int, one_indexed: bool = False) -> str:
    """Int8 code for component ``i`` against per-dim [mn_i, mx_i] stats:
    floor((x - mn) / (mx - mn) * 256), clipped to 255 at x == mx, then
    shifted to [-128, 127]. floor-then-cast is the cross-engine-safe
    order — DuckDB rounds on CAST(double AS INT) while Spark truncates,
    but both agree on an already-integral double. Degenerate dims
    (mx == mn) code to 0."""
    x = f"CAST(embedding[{i + 1 if one_indexed else i}] AS DOUBLE)"
    return (
        f"CASE WHEN mx_{i} = mn_{i} THEN 0 ELSE "
        f"CAST(LEAST(255.0, FLOOR(({x} - mn_{i}) / (mx_{i} - mn_{i}) * 256.0)) AS INT)"
        f" - 128 END"
    )


def quantize_embeddings(emb: DataFrame) -> DataFrame:
    """Int8 scalar quantization of the embedding column — the storage /
    ANN-index compression step (4 bytes/float32 → 1 byte/component).
    Two passes: a per-dimension min/max aggregate collapses to ONE
    stats row (map-side combined — the shuffle carries one partial row
    per task), broadcast back so the encode pass is map-only and
    pipelines with the scan. The quantizer parameters being a
    broadcast-sized artifact is exactly how a deployed int8 index
    ships its calibration. All arithmetic is IEEE doubles + floor —
    bit-identical cross-engine (see _quant_code_expr).

    Output (vec_id, codes) with codes the comma-joined int8 values
    (driver-surface scalar serialization)."""
    stats = emb.agg(
        *[
            F.min(F.expr(f"CAST(embedding[{i}] AS DOUBLE)")).alias(f"mn_{i}")
            for i in range(EMB_DIM)
        ],
        *[
            F.max(F.expr(f"CAST(embedding[{i}] AS DOUBLE)")).alias(f"mx_{i}")
            for i in range(EMB_DIM)
        ],
    )
    codes = [F.expr(_quant_code_expr(i)) for i in range(EMB_DIM)]
    return emb.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        F.concat_ws(",", *[c.cast("string") for c in codes]).alias("codes"),
    )


def quantize_sql() -> str:
    """The DuckDB twin of ``quantize_embeddings`` (1-indexed lists)."""
    mins = ", ".join(
        f"min(CAST(embedding[{i + 1}] AS DOUBLE)) AS mn_{i}" for i in range(EMB_DIM)
    )
    maxs = ", ".join(
        f"max(CAST(embedding[{i + 1}] AS DOUBLE)) AS mx_{i}" for i in range(EMB_DIM)
    )
    codes = ", ".join(
        f"CAST(({_quant_code_expr(i, one_indexed=True)}) AS VARCHAR)"
        for i in range(EMB_DIM)
    )
    return f"""
WITH stats AS (SELECT {mins}, {maxs} FROM embeddings)
SELECT vec_id, concat_ws(',', {codes}) AS codes
FROM embeddings, stats
"""


def l2_sql(a: str, b: str) -> str:
    """Squared-L2 chain in SQL (1-indexed), same fold order as Spark."""
    return " + ".join(
        f"pow(CAST({a}[{i + 1}] AS DOUBLE) - CAST({b}[{i + 1}] AS DOUBLE), 2)"
        for i in range(EMB_DIM)
    )


def ivf_topk_seeded(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 4,
    dim: int = EMB_DIM,
) -> DataFrame:
    """IVF top-k with SEEDED centroids: the coarse quantizer's
    centroids are the first ``n_cells`` vectors themselves (no Lloyd
    iterations) — a standard cheap IVF variant whose every step is a
    deterministic closed-form expression, so the DuckDB oracle can run
    the identical algorithm end-to-end (k-means cells would need MLlib,
    which isn't SQL).

    Scale shape: centroids are collected driver-side (n_cells×dim
    floats — metadata at any corpus scale, exactly like a deployed IVF
    index); cell assignment is a map-only pass over the corpus with NO
    shuffle; the candidate join is an equi-join on cell id bounded by
    probe volume. Ties everywhere break on the lower cell / vec_id.

    The centroids travel as DATA — one broadcast row holding
    array<array<double>>, distance = ``aggregate(zip_with(...))`` over
    it — so the expression tree is constant in n_cells (an inline
    pow-literal chain per centroid would blow Catalyst codegen limits
    long before memory). Both the vectors and the centroids are cut
    to their first ``dim`` components, and the fold 0.0 + t0 + t1 + …
    uses the oracle's pow/cast primitives in the oracle's order
    (0.0 + x ≡ x in IEEE for the non-negative terms), so cell
    assignment agrees with ``l2_sql`` to the last bit.
    """
    seeds = (
        emb.filter(F.col("vec_id") < n_cells)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    cents = [[float(x) for x in r["embedding"][:dim]] for r in seeds]
    cent_df = F.broadcast(
        emb.sparkSession.createDataFrame([(cents,)], "_cents array<array<double>>")
    )

    def darr(col: str) -> Column:
        vec = F.slice(F.col(col).cast("array<double>"), 1, dim)
        return F.transform(
            F.col("_cents"),
            lambda c: F.aggregate(
                F.zip_with(vec, c, lambda a, b: F.pow(a - b, F.lit(2.0))),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )

    d_corpus = darr("embedding")
    # first occurrence of the min = lowest cell id on ties
    cell = (F.array_position(d_corpus, F.array_min(d_corpus)) - 1).cast("int")
    assigned = emb.crossJoin(cent_df).select("vec_id", "embedding", cell.alias("cell"))

    q_cells = _queries(emb, n_queries).crossJoin(cent_df).select(
        "q_id", "q_emb", F.posexplode(darr("q_emb")).alias("cell", "dist")
    )
    # keep each query's n_probe nearest cells (ties to the lower cell)
    w_probe = Window.partitionBy("q_id").orderBy(F.col("dist").asc(), F.col("cell").asc())
    probed = (
        q_cells.withColumn("pr", F.row_number().over(w_probe))
        .filter(F.col("pr") <= n_probe)
        .select("q_id", "q_emb", "cell")
    )
    cand = probed.join(assigned, "cell").filter(F.col("vec_id") != F.col("q_id"))
    return _rank_topk(cand, k, dim)
