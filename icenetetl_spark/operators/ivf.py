"""IVF (inverted-file) approximate nearest-neighbor search: a KMeans coarse
quantizer partitions the corpus into cells; each query searches only its
``n_probe`` nearest cells.

This is the classic large-scale ANN layout (Sivic & Zisserman's inverted
files; FAISS's IVF*): at 10^9+ vectors the bucketed join touches
``n_probe / n_cells`` of the corpus instead of all of it.

Plan shape (all distributed):
1. fit KMeans on a seeded sample (driver holds only k centroids),
2. assign every corpus vector to its nearest centroid (one broadcast of the
   k x d centroid matrix inside a pandas_udf — numpy matmul per Arrow batch),
3. for each query, compute its n_probe nearest centroids the same way,
4. equi-join corpus and queries on cell id -> exact cosine re-rank within
   the probed cells (window per query).

Training is seeded => deterministic locally, but KMeans results are not
reproducible inside a SQL oracle — the driver records this family as
rows-only; recall-vs-bruteforce is asserted in tests instead.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import ArrayType, IntegerType
from pyspark.sql.window import Window

from icenetetl_spark.operators.similarity import cosine, dot


def _to_ml_vector(col: Column) -> Column:
    from pyspark.ml.functions import array_to_vector

    return array_to_vector(col.cast("array<double>"))


def fit_coarse_quantizer(
    corpus: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float | None = None,
) -> np.ndarray:
    """KMeans centroids (k x d numpy) — the only state that ever reaches the
    driver; O(k*d), independent of corpus size.

    ``sample_fraction`` bounds the training set (FAISS trains coarse
    quantizers on a sample; centroid quality saturates around a few
    hundred rows per cell) and the training input is persisted for the
    fit so KMeans's maxIter passes re-read the cache, not the source scan."""
    from pyspark.ml.clustering import KMeans

    km = KMeans(k=n_cells, seed=seed, featuresCol="__features", maxIter=20)
    train = corpus.select(_to_ml_vector(F.col(vec_col)).alias("__features"))
    if sample_fraction is not None:
        train = train.sample(fraction=sample_fraction, seed=seed)
    train = train.persist()
    try:
        model = km.fit(train)
    finally:
        train.unpersist()
    # clusterCenters() yields numpy arrays or ml Vectors depending on version
    return np.array(
        [c if isinstance(c, np.ndarray) else c.toArray() for c in model.clusterCenters()]
    )


def _nearest_cells_udf(centroids: np.ndarray, n_probe: int):
    """pandas_udf assigning each vector its n_probe nearest centroid ids by
    cosine; the centroid matrix travels once per executor via closure."""
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @F.pandas_udf(ArrayType(IntegerType()))
    def nearest(vecs: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
        sims = m @ cn.T  # (batch, k)
        order = np.argsort(-sims, axis=1)[:, :n_probe]
        return pd.Series([row.astype("int32").tolist() for row in order])

    return nearest


def assign_cells_fixed(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "vec_id",
    dim: int | None = None,
    attach_vector: bool = True,
    spread_input: bool = True,
) -> DataFrame:
    """Nearest-1 fixed-centroid assignment: ``(out_id, v, cell, csim)``
    where ``csim`` is the cosine to the OWN cell's centroid (SemDeDup's
    keep policy ranks on it). Argmax via ONE partial-aggregated groupBy
    over a scalar (sim, -centroid_id) struct — the k scored copies of each
    row collapse map-side (see :func:`knn_ivf_fixed_centroids`'s plan
    note); ties go to the smaller centroid id — with the vector joined
    back by key afterwards (see the inline note).

    ``attach_vector=False`` (r13) returns ``(out_id, cell, csim)`` and
    SKIPS the reattach join entirely — for consumers that never read the
    vector again (knn_ivfpq_fixed keeps only ``cell``; the incremental
    index keeps ``cell``/``csim``), Catalyst prunes the ``v`` column but
    cannot remove the inner JOIN itself (it has no uniqueness evidence),
    so opting out removes one N-row exchange + join stage per call at
    every scale. Identical cell/csim values — the argmax agg is
    untouched.

    CONTRACT: ``id_col`` must be unique in ``vectors`` — one output row
    per input row. Under duplicate ids the reattach join fans the single
    argmax row back out to every duplicate input row (the pre-round-9
    groupBy collapsed them instead), and the ``pre`` subtree is evaluated
    a second time through the join when the input is not cached. Every
    in-repo caller feeds a primary key (``vec_id``/``doc_id``); callers
    with non-unique ids must dedup first.

    The norms are factored OUT of the k-way crossJoin: ``||v||`` is
    computed once per vector and ``||c||`` once per centroid, so the hot
    N*k projection evaluates one dot instead of three (measured 16.7s ->
    ~6s on the 10x SemDeDup assignment). Bit-identical to the inline
    cosine — ``a/(sqrt(b)*sqrt(c))`` over the same operands in the same
    order, merely with the sqrt subexpressions hoisted."""
    # r13 (guide §2.5): the N*k dot projection below runs map-side on the
    # input partitioning; spread() keeps a row-group-bound scan from
    # serializing it (no-op once parallel — operators/scale.py). Callers
    # passing a known-tiny frame (the fine->coarse routing inside
    # assign_cells_two_level) opt out to keep their broadcast subtree
    # exchange-free.
    if spread_input:
        from icenetetl_spark.operators.scale import spread

        vectors = spread(vectors, id_col)
    cents = F.broadcast(
        centroids.withColumn("__cn", F.sqrt(dot("cvec", "cvec", dim)))
    )
    pre = vectors.select(
        F.col(id_col).alias(out_id),
        F.col(vec_col).alias("v"),
        F.sqrt(dot(vec_col, vec_col, dim)).alias("__vn"),
    )
    sim = dot("v", "cvec", dim) / (F.col("__vn") * F.col("__cn"))
    scored = pre.crossJoin(cents).select(
        F.col(out_id),
        sim.alias("__sim"),
        (-F.col("centroid_id")).alias("__negcid"),
    )
    # The argmax struct carries ONLY the two comparison scalars; the
    # vector is joined back by key afterwards. Carrying ``v`` inside the
    # max-struct was pure dead weight: ``__negcid`` is unique per
    # centroid, so the third field never participated in a comparison,
    # yet every one of the N*k candidate rows copied a d-float array into
    # the aggregation buffer — measured 13.6s -> 3.6s on the 10x SemDeDup
    # assignment (N*k = 1.4M rows at d=64). The reattach join is N-row
    # vs N-row on the id (broadcast at small N, co-shuffle at scale — the
    # same N-rows-with-arrays volume the old plan shuffled through its
    # agg anyway). Results are identical row-for-row: same (sim, negcid)
    # ordering, v was never compared.
    #
    # REJECTED round-10 experiment (measured, interleaved 5-rep medians on
    # the 10x SemDeDup assignment, 20k vectors x ~283 centroids): folding
    # the vector into the SAME agg as a separate ``first(v)`` column to
    # save the reattach join made the stage 5.9s -> 11.1s. First's buffer
    # short-circuits after one row, but its CHILD is still evaluated per
    # input row, so the d-float array materializes k times per vector
    # inside the wide-fanout agg — the round-9 dead-weight lesson applies
    # to ANY array column entering a fanout agg, not just compared struct
    # fields. (operators/kmeans.lloyd_fit keeps the first()-carry because
    # its fanout is the FIXED k<=16 quantizer width, where the k extra
    # array touches are cheaper than a join stage — measured faster there.)
    assigned = (
        scored.groupBy(out_id)
        .agg(F.max(F.struct("__sim", "__negcid")).alias("m"))
        .select(
            out_id,
            (-F.col("m.__negcid")).alias("cell"),
            F.col("m.__sim").alias("csim"),
        )
    )
    if not attach_vector:
        return assigned
    return assigned.join(pre.select(out_id, "v"), out_id).select(
        out_id, "v", "cell", "csim"
    )


def knn_ivf_fixed_centroids(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """The IVF probe/assign/re-rank plan with a FIXED centroid table
    (columns ``centroid_id``, ``cvec``) instead of a fitted KMeans model.

    Same physical shape as :func:`knn_ivf` — broadcast the k centroids,
    assign each corpus vector its nearest cell, probe ``n_probe`` cells per
    query, equi-join on cell, exact cosine re-rank — but every step is pure
    column arithmetic (the JVM-side cosine fold), so a DuckDB oracle can
    reproduce it bit-for-bit. This gives the IVF family its hash gate; the
    KMeans variant stays rows-only with recall tests (tests/test_ivf.py).

    Scale notes: centroid assignment is corpus ⨯ broadcast(k rows) scored
    per-row, then argmax via ONE partial-aggregated groupBy (max over a
    scalar (sim, -centroid_id) struct — lexicographic, ties to the smaller
    centroid id; the k scored copies of a row are produced in the same task,
    so map-side combine collapses them before the shuffle, and the vector
    rejoins by id afterwards). A per-row window would shuffle k×N rows
    instead.
    """
    cents = F.broadcast(centroids)
    # carry each corpus vector's norm out of the re-rank join (round-9:
    # cosine unrolled at d=64 inside the join consume method is three
    # 64-term dots and overflows janino's 64 KB limit, dropping the probe
    # join out of whole-stage codegen; with norms precomputed the join is
    # one dot + a divide — bit-identical values, sqrt factored out)
    corpus_cells = assign_cells_fixed(
        corpus, centroids, id_col, vec_col, out_id="neighbor_id", dim=dim
    ).select(
        "neighbor_id",
        F.col("v").alias("cv"),
        F.sqrt(dot("v", "v", dim)).alias("cvn"),
        "cell",
    )
    q_scored = queries.crossJoin(cents).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col("centroid_id"),
        cosine(vec_col, "cvec", dim=dim).alias("__sim"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__sim").desc(), F.col("centroid_id")
    )
    probes = (
        q_scored.withColumn("__rk", F.row_number().over(wq))
        .filter(F.col("__rk") <= n_probe)
        .select(
            "query_id",
            "qv",
            F.sqrt(dot("qv", "qv", dim)).alias("qvn"),
            F.col("centroid_id").alias("cell"),
        )
    )
    scored = (
        # probes = queries x n_probe (bounded): broadcasting it means the
        # corpus-cells side is never shuffled for this equi-join
        F.broadcast(probes).join(corpus_cells, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot("qv", "cv", dim) / (F.col("qvn") * F.col("cvn"))).alias(
                "cos"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def knn_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: (query_id, neighbor_id, rank, cos); corpus side is
    assigned 1 cell, query side probes ``n_probe`` cells."""
    centroids = fit_coarse_quantizer(corpus, n_cells, vec_col, seed)
    assign1 = _nearest_cells_udf(centroids, 1)
    probe = _nearest_cells_udf(centroids, n_probe)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.element_at(assign1(F.col(vec_col)), 1).alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(probe(F.col(vec_col))).alias("cell"),
    )
    scored = (
        F.broadcast(q).join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id", cosine("qv", "cv").alias("cos")
        )
        # a (query, neighbor) pair can meet in several probed cells
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )
