"""Product-quantization ANN: encoding invariants, recall vs brute force,
and the exactness of the re-rank stage."""

from __future__ import annotations

from pyspark.sql import functions as F

from icenetetl_spark.operators.pq import (
    encode_pq,
    fit_pq_codebooks_lloyd,
    knn_pq,
    knn_pq_with_codebook,
    pq_codebook,
)
from icenetetl_spark.operators.similarity import knn_bruteforce

from icenetetl_spark.queries.similarity import PQ_CODE_IDS as CODE_IDS
from icenetetl_spark.queries.similarity import PQ_LLOYD_ITERS


def _load(spark):
    return spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")


def test_indivisible_width_raises(spark):
    """d % m != 0 must raise, not silently drop the trailing dims from
    codebook/encode/ADC (the vectors here are d=64)."""
    import pytest

    emb = _load(spark)
    with pytest.raises(ValueError, match="not divisible"):
        pq_codebook(emb, CODE_IDS, m=7)
    with pytest.raises(ValueError, match="not divisible"):
        knn_pq(emb.limit(2), emb, CODE_IDS, m=6)


def test_encode_emits_one_code_per_subspace(spark):
    emb = _load(spark)
    m = 8
    codebook = pq_codebook(emb, CODE_IDS, m=m)
    assert codebook.count() == m * len(CODE_IDS)
    codes = encode_pq(emb, codebook, m=m)
    n = emb.count()
    assert codes.count() == n * m
    per = codes.groupBy("neighbor_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("m").alias("dm"),
    )
    bad = per.filter((F.col("n") != m) | (F.col("dm") != m)).count()
    assert bad == 0
    # every emitted code is a codebook member
    valid = {int(r["code"]) for r in codes.select("code").distinct().collect()}
    assert valid <= set(CODE_IDS)


def test_pq_recall_and_exact_rerank_scores(spark):
    emb = _load(spark)
    queries = emb.filter(F.col("vec_id") < 20)
    exact = knn_bruteforce(queries, emb, k=5)
    approx = knn_pq(queries, emb, CODE_IDS, k=5, m=8, refine_factor=4)
    e = {(r["query_id"], r["neighbor_id"]): r["cos"] for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]): r["cos"] for r in approx.collect()}
    recall = len(e.keys() & a.keys()) / len(e)
    # random 64-d vectors + a 16-code corpus-sampled codebook are a worst
    # case for PQ; chance recall@5 is 5/500 = 1% — demand well above it
    assert recall >= 0.15, recall
    for key, cos in a.items():  # re-rank computes the exact cosine
        if key in e:
            assert abs(e[key] - cos) < 1e-12


def test_pq_widening_refine_does_not_reduce_recall(spark):
    """A larger ADC candidate pool can only add true neighbors (the
    re-rank is exact), so recall must be monotone in refine_factor."""
    emb = _load(spark)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = knn_bruteforce(queries, emb, k=5)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}

    def rec(rf):
        a = {
            (r["query_id"], r["neighbor_id"])
            for r in knn_pq(
                queries, emb, CODE_IDS, k=5, m=8, refine_factor=rf
            ).collect()
        }
        return len(e & a) / len(e)

    assert rec(8) >= rec(1)


def test_trained_codebooks_beat_or_match_fixed(spark):
    """Lloyd codebooks started from the fixed code rows must not lose to
    those rows (each Lloyd step lowers the quantization error the fixed
    rows only sample). Same fit and plan as the knn_pq_trained query."""
    emb = _load(spark)
    queries = emb.filter(F.col("vec_id") < 20)
    exact = knn_bruteforce(queries, emb, k=5)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}

    def rec(df):
        a = {(r["query_id"], r["neighbor_id"]) for r in df.collect()}
        return len(e & a) / len(e)

    r_fixed = rec(knn_pq(queries, emb, CODE_IDS, k=5, m=8, refine_factor=4))
    codebook = fit_pq_codebooks_lloyd(
        emb, CODE_IDS, m=8, iterations=PQ_LLOYD_ITERS, width=64
    )
    r_trained = rec(
        knn_pq_with_codebook(
            queries, emb, codebook, 5, 8, 4, "vec_id", "embedding", 64
        )
    )
    assert r_trained >= r_fixed, (r_trained, r_fixed)


def _codebook_rows(df):
    return sorted((r["m"], r["code_id"], tuple(r["csub"])) for r in df.collect())


def test_trained_codebooks_deterministic(spark):
    emb = _load(spark)

    def fit():
        return _codebook_rows(
            fit_pq_codebooks_lloyd(emb, CODE_IDS[:8], m=4, iterations=2)
        )

    assert fit() == fit()


# A deterministic id-hash half of the corpus: the training sample both
# engines can replay (fit_pq_codebooks_lloyd's sampling contract).
HALF = "vec_id % 2 = 1"


def test_sampled_training_one_scan_shape_and_determinism(spark):
    """Sample-based quantizer training (the 100 TB shape): a deterministic
    id-hash sample, all M subspaces fitted in one job per iteration;
    deterministic, with m*k codebook rows of width d/m."""
    emb = _load(spark)
    init_ids = [i for i in CODE_IDS if i % 2 == 1]  # seeds inside the sample
    assert len(init_ids) == 8

    def fit():
        return _codebook_rows(
            fit_pq_codebooks_lloyd(
                emb.filter(HALF), init_ids, m=4, iterations=2
            )
        )

    ra = fit()
    assert ra == fit()
    assert len(ra) == 4 * 8
    assert all(len(c[2]) == 16 for c in ra)  # d=64 / m=4


def test_sampled_ivf_training_recall_not_degenerate(spark):
    """IVF trained on a half-sample still beats random: probing 6 of 16
    cells recovers a sane share of brute-force neighbors."""
    from icenetetl_spark.operators.ivf import knn_ivf_fixed_centroids
    from icenetetl_spark.operators.kmeans import lloyd_fit
    from icenetetl_spark.queries.similarity import (
        IVF_CENTROID_IDS,
        LLOYD_ITERS,
        LLOYD_N_PROBE,
    )

    emb = _load(spark)
    queries = emb.filter(F.col("vec_id") < 10)
    init = emb.filter(F.col("vec_id").isin(IVF_CENTROID_IDS)).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    cents = lloyd_fit(emb.filter(HALF), init, iterations=LLOYD_ITERS, dim=64)
    rows = cents.collect()
    assert len(rows) == 16 and all(len(r["cvec"]) == 64 for r in rows)
    approx = knn_ivf_fixed_centroids(
        queries, emb, cents, k=5, n_probe=LLOYD_N_PROBE
    )
    exact = knn_bruteforce(queries, emb, k=5)
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    assert len(a & e) / len(e) >= 0.5


def test_ivfpq_candidates_within_probed_cells_and_exact_rerank(spark):
    """IVF-PQ composition invariants: every reported neighbor lies in a
    cell the query probed (the IVF bound is real, not advisory), and its
    cosine is the exact value (re-rank never reports an ADC estimate)."""
    from icenetetl_spark.operators.ivf import assign_cells_fixed
    from icenetetl_spark.operators.pq import knn_ivfpq_fixed
    from icenetetl_spark.queries.similarity import (
        IVF_CENTROID_IDS,
        IVF_N_PROBE,
    )

    emb = _load(spark)
    cents = emb.filter(F.col("vec_id").isin(IVF_CENTROID_IDS)).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cvec"),
    )
    queries = emb.filter(F.col("vec_id") < 20)
    out = knn_ivfpq_fixed(
        queries, emb, cents, CODE_IDS, k=5, m=8, n_probe=IVF_N_PROBE
    ).collect()
    assert out, "ivfpq returned no neighbors"
    per_q: dict[int, list] = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r)
    for rows in per_q.values():
        assert len(rows) <= 5
        assert sorted(r["rank"] for r in rows) == list(
            range(1, len(rows) + 1)
        )

    # cell containment: neighbor's cell must be among the query's probes
    cells = {
        r["neighbor_id"]: r["cell"]
        for r in assign_cells_fixed(emb, cents).select(
            F.col("vec_id").alias("neighbor_id"), "cell"
        ).collect()
    }
    # recompute probes independently via brute cosine in numpy
    import numpy as np

    qv = {r["vec_id"]: np.array(r["embedding"]) for r in queries.collect()}
    cvs = {
        r["centroid_id"]: np.array(r["cvec"]) for r in cents.collect()
    }

    def top_cells(q):
        sims = sorted(
            (
                (-(qv[q] @ v) / (np.linalg.norm(qv[q]) * np.linalg.norm(v)), cid)
                for cid, v in cvs.items()
            )
        )
        return {cid for _, cid in sims[:IVF_N_PROBE]}

    for r in out:
        assert cells[r["neighbor_id"]] in top_cells(r["query_id"])

    # exact re-rank: cosines match brute force where pairs coincide
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in knn_bruteforce(queries, emb, k=50).collect()
    }
    for r in out:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:
            assert abs(exact[key] - r["cos"]) < 1e-9
