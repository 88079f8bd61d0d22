"""ANN quality: approximate methods measured against brute force."""

from __future__ import annotations

from ocr_spark.operators.similarity import (
    cosine_neardup,
    cosine_neardup_lsh,
    cosine_topk,
    ivf_topk_seeded,
)
from ocr_spark.sources.io import load_table

SF_DIR = "/root/testdata/sf0.01"


def test_ivf_seeded_recall_vs_bruteforce(spark):
    """The oracle-checked seeded quantizer holds a recall floor
    (quality gate on top of the exact-parity gate)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {
        (r["q_id"], r["vec_id"]) for r in cosine_topk(emb, k=5).collect()
    }
    approx = {
        (r["q_id"], r["vec_id"])
        for r in ivf_topk_seeded(emb, n_queries=10, k=5, n_cells=16, n_probe=6).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, recall  # seeded centroids (no Lloyd iterations)


def test_sign_lsh_is_subset_of_exact(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {
        (r["id_a"], r["id_b"]) for r in cosine_neardup(emb, threshold=0.3).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in cosine_neardup_lsh(
            emb, threshold=0.3, bits=8, n_bands=8, max_bucket=256
        ).collect()
    }
    assert lsh <= exact  # verification step guarantees no false positives
    if exact:
        print("sign-lsh recall:", len(lsh) / len(exact))


def _const_vectors(spark, n, dim=8, flip_last=0):
    """n vectors identical in every component (one sign bucket per
    band); the last ``flip_last`` get a sign-flipped tail component."""
    rows = []
    for i in range(n):
        v = [1.0] * dim
        if i >= n - flip_last:
            v[-1] = -1.0
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_sign_lsh_bucket_cap_bounds_hot_buckets(spark):
    """A bucket hotter than max_bucket is dropped from the candidate
    join in EVERY band (hard fan-out bound); a generous cap keeps all
    C(n,2) exact-duplicate pairs."""
    emb = _const_vectors(spark, 6, dim=8)
    capped = cosine_neardup_lsh(
        emb, threshold=0.9, bits=2, n_bands=4, max_bucket=5, dim=8
    )
    assert capped.count() == 0  # all 6 share every band's bucket, 6 > 5
    uncapped = cosine_neardup_lsh(
        emb, threshold=0.9, bits=2, n_bands=4, max_bucket=100, dim=8
    )
    assert uncapped.count() == 15  # C(6,2)


def test_sign_lsh_banding_recovers_capped_band(spark):
    """Banding is an OR over tables: a pair whose band-0 bucket is
    capped away still surfaces through a band whose bucket stays under
    the cap — the recall mechanism that single-table LSH lacks."""
    # 8 vectors share band 0 (components 0-1 all positive) → capped;
    # the last 2 flip component 7, so band 3 (components 6-7) holds
    # exactly those 2 → under cap → their pair survives.
    emb = _const_vectors(spark, 8, dim=8, flip_last=2)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in cosine_neardup_lsh(
            emb, threshold=0.5, bits=2, n_bands=4, max_bucket=5, dim=8
        ).collect()
    }
    assert pairs == {(6, 7)}


def test_sign_lsh_planted_duplicate_found(spark):
    """An exact duplicate vector shares every band's bucket — it MUST
    surface as a sim=1.0 pair (recall floor on true near-dups)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    dup = emb.filter("vec_id = 0").selectExpr(
        "CAST(900001 AS BIGINT) AS vec_id", "embedding", "label"
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in cosine_neardup_lsh(
            emb.unionByName(dup), threshold=0.9, bits=8, n_bands=8, max_bucket=256
        ).collect()
    }
    assert pairs.get((0, 900001)) == 1.0


def test_sign_lsh_rejects_band_overflow(spark):
    emb = _const_vectors(spark, 2, dim=8)
    import pytest

    with pytest.raises(ValueError, match="bands"):
        cosine_neardup_lsh(emb, bits=8, n_bands=8, dim=8)


def test_semantic_decontaminate_flags_planted_eval_copy(spark):
    """A corpus vector identical to an eval vector must flag at
    sim=1.0; one orthogonal to every eval vector must not flag."""
    from ocr_spark.operators.similarity import semantic_decontaminate

    dim = 8
    rows = []
    for i in range(3):  # eval pool: one-hot dims 0..2
        v = [0.0] * dim
        v[i] = 1.0
        rows.append((i, v))
    copy = [0.0] * dim
    copy[1] = 1.0
    rows.append((100, copy))  # exact copy of eval 1
    ortho = [0.0] * dim
    ortho[7] = 1.0
    rows.append((101, ortho))  # orthogonal to all evals
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: (r["max_eval_sim"], r["contaminated"])
        for r in semantic_decontaminate(emb, n_eval=3, threshold=0.9, dim=dim).collect()
    }
    assert got[100] == (1.0, True)
    assert got[101] == (0.0, False)
    assert set(got) == {100, 101}  # eval rows excluded from output


def test_knn_label_propagation_recovers_planted_cluster(spark):
    """A query sitting inside a tight labeled cluster must take that
    cluster's label unanimously; vote ties break to the smaller
    label."""
    from ocr_spark.operators.similarity import knn_label_propagation

    dim = 4
    rows = [(0, [1.0, 0.05, 0.0, 0.0], None)]  # query near label-7 axis
    for i in range(3):  # label 7 cluster on axis 0
        rows.append((10 + i, [1.0, 0.01 * i, 0.0, 0.0], 7))
    for i in range(3):  # label 2 cluster on axis 1
        rows.append((20 + i, [0.0, 1.0, 0.01 * i, 0.0], 2))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    got = knn_label_propagation(emb, n_queries=1, k=3, dim=dim).collect()
    assert [(r["vec_id"], r["predicted_label"], r["votes"]) for r in got] == [(0, 7, 3)]
    # tie case: k=4 pulls in one label-2 vote (3 vs 1 still label 7);
    # k=6 makes it 3-3 → tie breaks to the SMALLER label (2)
    tie = knn_label_propagation(emb, n_queries=1, k=6, dim=dim).collect()
    assert [(r["predicted_label"], r["votes"]) for r in tie] == [(2, 3)]


def test_filtered_knn_respects_pool(spark):
    """Every returned neighbor must be in the allowed pool, and ranks
    must re-rank within the pool (not post-filter a global top-k)."""
    from ocr_spark.operators.similarity import cosine_topk_filtered

    emb = load_table(spark, SF_DIR, "embeddings")
    allowed = emb.filter("vec_id % 2 = 0").select("vec_id")
    got = cosine_topk_filtered(emb, allowed, n_queries=5, k=3).collect()
    assert all(r["vec_id"] % 2 == 0 for r in got)
    by_q = {}
    for r in got:
        by_q.setdefault(r["q_id"], []).append(r["rank"])
    # full rank sequence per query — post-filtering would leave holes
    assert all(sorted(v) == [1, 2, 3] for v in by_q.values())


def test_ivf_seeded_dim_prefix_equals_truncated_embeddings(spark):
    """``dim`` below the array length uses only the first ``dim``
    components for vectors AND centroids: exactly the rows of the same
    call over embeddings pre-truncated to ``dim``."""
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_DIR, "embeddings")
    dim = 8
    cut = emb.withColumn("embedding", F.slice("embedding", 1, dim))
    args = dict(n_queries=8, k=3, n_cells=32, n_probe=5, dim=dim)
    got = sorted(map(tuple, ivf_topk_seeded(emb, **args).collect()))
    assert got == sorted(map(tuple, ivf_topk_seeded(cut, **args).collect()))
    assert len(got) == 8 * 3


def test_ivf_seeded_large_cell_count_no_codegen_blowup(spark):
    """n_cells = 1024: the expression tree is constant-size (centroids
    are DATA), so a cell count that would generate ~1024×dim pow
    literals inline plans and runs fine."""
    from pyspark.sql import functions as F

    dim = 8
    emb = spark.range(2048).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: ((F.col("id") * 31 + i * 7) % 97).cast("float") / F.lit(97.0),
        ).alias("embedding"),
    )
    out = ivf_topk_seeded(
        emb, n_queries=5, k=3, n_cells=1024, n_probe=4, dim=dim
    ).collect()
    assert len(out) == 5 * 3
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r["q_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3] for v in by_q.values())
