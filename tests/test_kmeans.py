"""Deterministic fixed-point Lloyd's (operators/kmeans.py).

A k-means whose update sums floats depends on partition order, so no SQL
oracle can replay it. These tests pin this fit's contract: bit-exact
equality with its unrolled DuckDB CTE twin on both metrics, empty-cell
carry-over, and partition-count independence of the fixed-point update.
"""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from icenetetl_spark.operators.kmeans import lloyd_cents_cte, lloyd_fit
from icenetetl_spark.sources.testdata import load_table

SF_DIR = "/root/testdata/sf0.001"
IDS = list(range(7, 500, 31))


def _duck_fit(metric, iterations, ids=IDS, dim=64):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_DIR}/embeddings.parquet'"
    )
    cte = lloyd_cents_cte(
        "embeddings",
        f"vec_id IN ({', '.join(map(str, ids))})",
        iterations,
        dim,
        metric=metric,
    )
    return {
        r[0]: list(r[1])
        for r in con.execute(
            f"WITH {cte} SELECT centroid_id, cvec FROM km_fit"
        ).fetchall()
    }


def _spark_fit(spark, metric, iterations, ids=IDS, dim=64):
    emb = load_table(spark, SF_DIR, "embeddings")
    init = emb.filter(F.col("vec_id").isin(ids)).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cvec"),
    )
    fit = lloyd_fit(emb, init, iterations=iterations, dim=dim, metric=metric)
    return {r["centroid_id"]: list(r["cvec"]) for r in fit.collect()}


@pytest.mark.parametrize("metric", ["cosine", "l2"])
def test_fit_bit_exact_vs_duckdb(spark, metric):
    got = _spark_fit(spark, metric, iterations=2)
    want = _duck_fit(metric, iterations=2)
    assert set(got) == set(want)
    for cid in got:
        assert got[cid] == want[cid], f"centroid {cid} diverged"


def test_fit_independent_of_partition_count(spark):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = _spark_fit(spark, "cosine", iterations=2)
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = _spark_fit(spark, "cosine", iterations=2)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b


def test_empty_cell_keeps_previous_centroid(spark):
    # two tight clusters, THREE centroids: ids 0 and 1 both start inside
    # cluster A (identical init vectors — id 1 never wins a tie because
    # ties go to the smaller centroid id), id 2 in cluster B. Centroid 1
    # receives no members and must stay at its init position; the oracle's
    # LEFT JOIN + CASE does the same.
    rows = [
        (0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]),
        (3, [0.9, 0.1]), (4, [0.95, 0.05]), (5, [0.1, 0.9]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    init = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cvec"),
    )
    fit = lloyd_fit(emb, init, iterations=2, dim=2, metric="cosine")
    got = {r["centroid_id"]: list(r["cvec"]) for r in fit.collect()}
    assert got[1] == [1.0, 0.0]  # untouched
    assert got[0] != [1.0, 0.0]  # moved to cluster A's mean
    assert got[2][1] > got[2][0]  # stayed in cluster B

    # the SQL twin agrees on the same frame
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (vec_id BIGINT, embedding DOUBLE[])"
    )
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    cte = lloyd_cents_cte("t", "vec_id < 3", 2, 2, metric="cosine")
    want = {
        r[0]: list(r[1])
        for r in con.execute(
            f"WITH {cte} SELECT centroid_id, cvec FROM km_fit"
        ).fetchall()
    }
    assert got == want


def test_lloyd_objective_improves_over_init(spark):
    """Algorithmic sanity beyond engine parity: Lloyd's L2 objective (sum
    of squared distances to the assigned centroid) is provably
    non-increasing per iteration, so the 2-iteration fit must not be worse
    than the raw seed rows; the cosine fit is checked empirically on the
    same fixed corpus (deterministic fit -> stable assertion)."""
    import numpy as np

    emb = load_table(spark, SF_DIR, "embeddings")
    X = np.array(
        [r["embedding"] for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    init_rows = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.filter(F.col("vec_id").isin(IDS)).collect()
    }
    C0 = np.stack([init_rows[i] for i in sorted(init_rows)])

    def l2_obj(C):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return d2.min(axis=1).sum()

    def cos_obj(C):
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        return (Xn @ Cn.T).max(axis=1).mean()

    fit_l2 = _spark_fit(spark, "l2", iterations=2)
    C_l2 = np.stack([np.array(fit_l2[c]) for c in sorted(fit_l2)])
    assert l2_obj(C_l2) <= l2_obj(C0)

    fit_cos = _spark_fit(spark, "cosine", iterations=2)
    C_cos = np.stack([np.array(fit_cos[c]) for c in sorted(fit_cos)])
    assert cos_obj(C_cos) >= cos_obj(C0)


def test_fit_memoization_identical_and_single_fit(
    spark, tmp_path, monkeypatch
):
    """cache_key memoizes the fitted centroid list for the session (each
    trained-quantizer gate would otherwise re-run the same deterministic
    fit, 16-20s per gate). The cached result must be value-identical and
    the second call must not re-run Lloyd jobs."""
    from icenetetl_spark.operators import kmeans as km

    # an empty artifact dir: an earlier run's artifact would read "disk"
    monkeypatch.setattr(km, "_FIT_CACHE_DIR", str(tmp_path / "fc"))
    km.reset_fit_cache()
    emb = load_table(spark, SF_DIR, "embeddings")
    init = emb.filter(F.col("vec_id").isin(IDS)).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cvec"),
    )
    key = (SF_DIR, "embeddings", tuple(IDS))
    cold = {
        r["centroid_id"]: list(r["cvec"])
        for r in lloyd_fit(
            emb, init, iterations=2, dim=64, cache_key=key
        ).collect()
    }
    assert km.FIT_EVENTS == [("lloyd", "fit")]
    # poison the init argument (NOT part of the memo key): a true cache
    # hit never evaluates it — a miss would refit from the empty init and
    # return an empty frame. The corpus argument itself IS touched on a
    # hit (corpus_signature reads its backing-file metadata), so it must
    # be a live frame over the unchanged path.
    warm = {
        r["centroid_id"]: list(r["cvec"])
        for r in lloyd_fit(
            emb, init.limit(0), iterations=2, dim=64, cache_key=key
        ).collect()
    }
    assert warm == cold
    assert km.FIT_EVENTS[-1] == ("lloyd", "memo")
    # different params under the same corpus key must MISS (no collision)
    miss = lloyd_fit(emb, init, iterations=1, dim=64, cache_key=key)
    assert km.FIT_EVENTS[-1] == ("lloyd", "fit")
    assert miss.count() == len(IDS)
    # both fits are now memoized, side by side
    for iterations in (1, 2):
        lloyd_fit(
            emb, init.limit(0), iterations=iterations, dim=64, cache_key=key
        )
    assert km.FIT_EVENTS == [("lloyd", "fit"), ("lloyd", "memo")] * 2 + [
        ("lloyd", "memo")
    ]
    km.reset_fit_cache()


@pytest.mark.parametrize("family", ["lloyd", "pq_lloyd", "bpe"])
def test_fit_memo_hit_starts_no_jobs(spark, count_jobs, monkeypatch, family):
    """Every trained-fit family resolves a repeat call with the same
    cache_key from the session memo: value-identical, logged as "memo",
    and without starting a Spark job."""
    from icenetetl_spark.operators import kmeans as km
    from icenetetl_spark.operators.bpe import fit_bpe
    from icenetetl_spark.operators.pq import fit_pq_codebooks_lloyd

    monkeypatch.setattr(km, "_FIT_CACHE_DIR", "")  # session memo only
    km.reset_fit_cache()
    emb = load_table(spark, SF_DIR, "embeddings")
    init = emb.filter(F.col("vec_id").isin(IDS)).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cvec"),
    )
    fit = {
        "lloyd": lambda: lloyd_fit(
            emb, init, iterations=1, dim=64, cache_key=(SF_DIR, tuple(IDS))
        ),
        "pq_lloyd": lambda: fit_pq_codebooks_lloyd(
            emb, IDS[:4], m=8, iterations=1, cache_key=(SF_DIR, "emb")
        ),
        "bpe": lambda: fit_bpe(
            load_table(spark, SF_DIR, "documents"), 3,
            cache_key=(SF_DIR, "documents"),
        ),
    }[family]

    def values(out):
        return out if family == "bpe" else [tuple(r) for r in out.collect()]

    cold = values(fit())
    assert km.FIT_EVENTS == [(family, "fit")]
    warm = []
    assert count_jobs(lambda: warm.append(fit())) == 0
    assert values(warm[0]) == cold
    assert km.FIT_EVENTS == [(family, "fit"), (family, "memo")]
    km.reset_fit_cache()


def test_fit_events_keep_the_newest_cap_entries(spark):
    """FIT_EVENTS is bounded: cap + 1 resolutions leave cap entries, the
    oldest dropped and the newest last."""
    from icenetetl_spark.operators import kmeans as km

    km.reset_fit_cache()
    corpus = spark.range(1)
    n = km.FIT_EVENTS_CAP + 1
    for i in range(n):
        km.memoized_fit(f"f{i}", corpus, None, (), lambda: [])
    assert len(km.FIT_EVENTS) == km.FIT_EVENTS_CAP
    assert km.FIT_EVENTS[0] == ("f1", "fit")
    assert km.FIT_EVENTS[-1] == (f"f{n - 1}", "fit")
    km.reset_fit_cache()


def test_fit_without_cache_key_never_caches(spark):
    from icenetetl_spark.operators import kmeans as km

    km.reset_fit_cache()
    _spark_fit(spark, "cosine", iterations=1)
    _spark_fit(spark, "cosine", iterations=1)
    # the repeat refits: nothing was memoized or persisted
    assert km.FIT_EVENTS == [("lloyd", "fit")] * 2


def test_overflow_guard_raises_instead_of_wrapping(spark):
    """At scale=18 a ~250-row cell of this corpus genuinely overflows
    the BIGINT quantized sum. Under the session's ANSI mode (Spark 4
    default) the engine itself raises during the aggregation; the fit
    must surface SOME exception — never return wrapped centroids. (An ANSI-off deployment is covered by the guard
    test below, whose bound fires without a real wrap.)"""
    emb = load_table(spark, SF_DIR, "embeddings")
    init = emb.filter(F.col("vec_id").isin(IDS[:2])).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cvec"),
    )
    with pytest.raises(Exception, match="(?i)overflow"):
        lloyd_fit(emb, init, iterations=1, dim=64, scale=18)


def test_overflow_guard_uses_observed_magnitude(spark):
    """The guard's bound derives from the OBSERVED max
    |element| (aggregated in the same groupBy), not the documented
    |v|<=10 envelope. Mixed-sign components far above the envelope at
    the DEFAULT scale: the actual running sum stays near zero (so ANSI
    cannot raise and ANSI-off could never wrap-detect), while the old
    n-only bound (2 * 10^10 < 2^63) stayed silent — only the
    magnitude-derived bound 2*(1e10*10^9+1) >= 2^63 catches it."""
    emb = spark.createDataFrame(
        [(0, [1e10, 0.0]), (1, [-1e10, 0.0])],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    init = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cvec"),
    )
    with pytest.raises(OverflowError, match=r"max \|element\|"):
        lloyd_fit(emb, init, iterations=1, dim=2, metric="l2")


def test_fit_disk_memo_survives_session_reset(spark, tmp_path, monkeypatch):
    """The fitted centroid list is a persisted artifact (the FAISS
    train-once pattern) — a NEW process over unchanged data must ride the
    disk memo instead of re-paying the fit. Simulated here by dropping the
    memoized fits (what a new session starts with) and poisoning the init
    argument: a disk hit never refits."""
    from icenetetl_spark.operators import kmeans as km

    monkeypatch.setattr(km, "_FIT_CACHE_DIR", str(tmp_path / "fitcache"))
    km.reset_fit_cache(disk=True)
    p = str(tmp_path / "emb_disk.parquet")
    spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [4.0, 0.0])],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    ).coalesce(1).write.parquet(p)
    emb = spark.read.parquet(p)
    init = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cvec"),
    )
    key = (p, "emb_disk")
    cold = lloyd_fit(
        emb, init, iterations=1, dim=2, metric="l2", cache_key=key
    ).collect()
    assert [list(r["cvec"]) for r in cold] == [[2.0, 0.0]]
    assert km.FIT_EVENTS == [("lloyd", "fit")]
    # "new session": memoized fits gone, disk artifact remains
    km.reset_fit_cache()
    assert km.FIT_EVENTS == []
    warm = lloyd_fit(
        emb, init.limit(0), iterations=1, dim=2, metric="l2", cache_key=key
    ).collect()
    assert [list(r["cvec"]) for r in warm] == [[2.0, 0.0]]
    assert km.FIT_EVENTS == [("lloyd", "disk")]
    # wiping the artifacts too brings the refit back (empty init -> empty)
    km.reset_fit_cache(disk=True)
    refit = lloyd_fit(
        emb, init.limit(0), iterations=1, dim=2, metric="l2", cache_key=key
    ).collect()
    assert refit == []
    assert km.FIT_EVENTS == [("lloyd", "fit")]
    km.reset_fit_cache(disk=True)


def test_fit_cache_stales_on_corpus_regeneration(spark, tmp_path):
    """The memo key folds a content signature of the corpus' backing files
    (size+mtime for local parquet), so regenerating the data under the
    SAME path and the same caller cache_key must MISS and refit — not
    silently serve the previous corpus' centroids."""
    from icenetetl_spark.operators import kmeans as km

    km.reset_fit_cache()
    p = str(tmp_path / "emb_regen.parquet")

    def write(v):
        spark.createDataFrame(
            [(0, [0.0, 0.0]), (1, [v, 0.0])],
            "vec_id BIGINT, embedding ARRAY<DOUBLE>",
        ).coalesce(1).write.mode("overwrite").parquet(p)

    def fit():
        emb = spark.read.parquet(p)
        init = emb.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cvec"),
        )
        out = lloyd_fit(
            emb, init, iterations=1, dim=2, metric="l2",
            cache_key=(p, "emb_regen"),
        )
        return [list(r["cvec"]) for r in out.collect()]

    write(4.0)
    assert fit() == [[2.0, 0.0]]
    write(8.0)
    assert fit() == [[4.0, 0.0]]  # stale fit would still read [[2.0, 0.0]]
    assert km.FIT_EVENTS == [("lloyd", "fit")] * 2
    # the regenerated corpus' fit is memoized in turn
    assert fit() == [[4.0, 0.0]]
    assert km.FIT_EVENTS[-1] == ("lloyd", "memo")
    km.reset_fit_cache()


def test_disk_artifact_isolated_per_corpus_and_versioned(
    spark, tmp_path, monkeypatch
):
    """Two distinct corpora (distinct content signatures)
    must never read each other's persisted artifact, and the on-disk key
    must fold a format version so artifacts written by older fit code
    miss after a bump instead of being silently served."""
    from icenetetl_spark.operators import kmeans as km

    monkeypatch.setattr(km, "_FIT_CACHE_DIR", str(tmp_path / "fc"))
    km.reset_fit_cache(disk=True)

    def corpus(v, name):
        p = str(tmp_path / f"{name}.parquet")
        spark.createDataFrame(
            [(0, [0.0, 0.0]), (1, [v, 0.0])],
            "vec_id BIGINT, embedding ARRAY<DOUBLE>",
        ).coalesce(1).write.parquet(p)
        return spark.read.parquet(p)

    def fit(emb, key):
        init = emb.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cvec"),
        )
        out = lloyd_fit(
            emb, init, iterations=1, dim=2, metric="l2", cache_key=key
        )
        return [list(r["cvec"]) for r in out.collect()]

    a, b = corpus(4.0, "ca"), corpus(8.0, "cb")
    # SAME caller cache_key for both — only the content signature differs,
    # which is exactly the cross-process collision surface
    assert fit(a, ("shared-key",)) == [[2.0, 0.0]]
    km.reset_fit_cache()  # fresh "process": disk artifacts only
    assert fit(b, ("shared-key",)) == [[4.0, 0.0]]
    # version bump: yesterday's artifacts all miss
    km.reset_fit_cache()
    monkeypatch.setattr(
        km, "_FIT_FORMAT_VERSION", km._FIT_FORMAT_VERSION + 1
    )
    empty = a.filter(F.col("vec_id") < 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cvec"),
    )
    refit = lloyd_fit(
        a, empty, iterations=1, dim=2, metric="l2",
        cache_key=("shared-key",),
    )
    assert refit.collect() == []  # refit from the (empty) init, not disk
    km.reset_fit_cache(disk=True)


def test_disk_artifact_corruption_degrades_to_refit(
    spark, tmp_path, monkeypatch
):
    """A truncated or shape-mangled artifact
    file must read as a MISS (refit), never crash lloyd_fit's unpack."""
    import json
    import os

    from icenetetl_spark.operators import kmeans as km

    monkeypatch.setattr(km, "_FIT_CACHE_DIR", str(tmp_path / "fc"))
    km.reset_fit_cache(disk=True)
    p = str(tmp_path / "emb_corrupt.parquet")
    spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [6.0, 0.0])],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    ).coalesce(1).write.parquet(p)
    emb = spark.read.parquet(p)
    init = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cvec"),
    )

    def fit():
        out = lloyd_fit(
            emb, init, iterations=1, dim=2, metric="l2", cache_key=(p,)
        )
        return [list(r["cvec"]) for r in out.collect()]

    assert fit() == [[3.0, 0.0]]
    (art,) = [
        os.path.join(km._FIT_CACHE_DIR, f)
        for f in os.listdir(km._FIT_CACHE_DIR)
        if f.endswith(".json")
    ]
    for poison in (
        "[[0,",                      # truncated JSON
        json.dumps({"not": "rows"}),  # wrong top-level type
        json.dumps([[0]]),           # wrong arity
        json.dumps([["x", [1.0]]]),  # non-int id
        json.dumps([[0, "vec"]]),    # non-list vector
        json.dumps([[0, [1.0, "y"]]]),  # non-numeric component
    ):
        with open(art, "w", encoding="utf-8") as f:
            f.write(poison)
        km.reset_fit_cache()  # fresh process, poisoned disk
        assert fit() == [[3.0, 0.0]], poison  # refit, not crash/garbage
    km.reset_fit_cache(disk=True)


def test_nonfile_corpus_never_touches_disk_layer(spark, tmp_path, monkeypatch):
    """A non-file-backed frame signs as a constant, so two
    DIFFERENT in-memory corpora sharing a cache_key would collide across
    processes via the disk artifact — the disk layer must be skipped
    (session memo only) for ("nofiles",) signatures."""
    import os

    from icenetetl_spark.operators import kmeans as km

    monkeypatch.setattr(km, "_FIT_CACHE_DIR", str(tmp_path / "fc"))
    km.reset_fit_cache(disk=True)
    emb = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [4.0, 0.0])],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    assert km.corpus_signature(emb) == ("nofiles",)
    init = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cvec"),
    )
    for _ in range(2):
        out = lloyd_fit(
            emb, init, iterations=1, dim=2, metric="l2", cache_key=("mem",)
        )
        assert [list(r["cvec"]) for r in out.collect()] == [[2.0, 0.0]]
    # session memo still works
    assert km.FIT_EVENTS == [("lloyd", "fit"), ("lloyd", "memo")]
    assert not os.path.isdir(km._FIT_CACHE_DIR) or not os.listdir(
        km._FIT_CACHE_DIR
    )
    km.reset_fit_cache()
