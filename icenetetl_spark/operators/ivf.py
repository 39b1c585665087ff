"""IVF (inverted-file) approximate nearest-neighbor search: a coarse
quantizer of k centroids partitions the corpus into cells; each query
searches only its ``n_probe`` nearest cells.

This is the classic large-scale ANN layout (Sivic & Zisserman's inverted
files; FAISS's IVF*): at 10^9+ vectors the bucketed join touches
``n_probe / n_cells`` of the corpus instead of all of it.

The quantizer is a ``(centroid_id, cvec)`` table: fixed corpus rows, or
the deterministic Lloyd fit of operators/kmeans.lloyd_fit. Either way the
plan below sees a fixed centroid table, so every step is column arithmetic
a DuckDB oracle reproduces bit-for-bit.

Plan shape (all distributed, no Python boundary):
1. :func:`assign_cells_fixed`: broadcast the k centroids, score every
   corpus vector against all of them, argmax via one partial-aggregated
   groupBy (the k scored copies collapse map-side);
2. :func:`knn_ivf_fixed_centroids`: each query's n_probe nearest
   centroids (:func:`similarity.probe_cells`, a window over the small
   query x k product);
3. equi-join probes and corpus cells on the cell id, score the pairs by
   exact cosine and keep k per query (:func:`similarity.topk`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from icenetetl_spark.operators.similarity import dot, probe_cells, rank_neighbors


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

    ``attach_vector=False`` returns ``(out_id, cell, csim)`` and
    SKIPS the reattach join entirely — for consumers that never read the
    vector again (knn_ivfpq_fixed keeps only ``cell``; the incremental
    index keeps ``cell``/``csim``), Catalyst prunes the ``v`` column but
    cannot remove the inner JOIN itself (it has no uniqueness evidence),
    so opting out removes one N-row exchange + join stage per call at
    every scale. Identical cell/csim values — the argmax agg is
    untouched.

    CONTRACT: ``id_col`` must be unique in ``vectors`` — one output row
    per input row. Under duplicate ids the reattach join fans the single
    argmax row back out to every duplicate input row (a groupBy that
    carried the vector would collapse them instead), and the ``pre`` subtree is evaluated
    a second time through the join when the input is not cached. Every
    in-repo caller feeds a primary key (``vec_id``/``doc_id``); callers
    with non-unique ids must dedup first.

    The norms are factored OUT of the k-way crossJoin: ``||v||`` is
    computed once per vector and ``||c||`` once per centroid, so the hot
    N*k projection evaluates one dot instead of three (measured 16.7s ->
    ~6s on the 10x SemDeDup assignment). Bit-identical to the inline
    cosine — ``a/(sqrt(b)*sqrt(c))`` over the same operands in the same
    order, merely with the sqrt subexpressions hoisted."""
    # The N*k dot projection below runs map-side on the
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
    # REJECTED experiment (measured, interleaved 5-rep medians on
    # the 10x SemDeDup assignment, 20k vectors x ~283 centroids): folding
    # the vector into the SAME agg as a separate ``first(v)`` column to
    # save the reattach join made the stage 5.9s -> 11.1s. First's buffer
    # short-circuits after one row, but its CHILD is still evaluated per
    # input row, so the d-float array materializes k times per vector
    # inside the wide-fanout agg — the dead weight above applies to ANY
    # array column entering a fanout agg, not just compared struct
    # fields. (operators/kmeans.lloyd_fit keeps the first()-carry because
    # its fanout is the FIXED k<=16 quantizer width, where the k extra
    # array touches are cheaper than a join stage — measured faster there.)
    return nearest_cell(scored, out_id, pre if attach_vector else None)


def nearest_cell(
    scored: DataFrame, out_id: str, pre: DataFrame | None
) -> DataFrame:
    """``(out_id, cell, csim)`` from ``(out_id, __sim, __negcid)`` rows:
    the argmax as one partial-aggregated max over the scalar struct (ties
    to the smaller centroid id), then ``v`` rejoined by key from ``pre``
    when given — the last step of both assignment operators."""
    assigned = (
        scored.groupBy(out_id)
        .agg(F.max(F.struct("__sim", "__negcid")).alias("m"))
        .select(
            out_id,
            (-F.col("m.__negcid")).alias("cell"),
            F.col("m.__sim").alias("csim"),
        )
    )
    if pre is None:
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
    (columns ``centroid_id``, ``cvec``): fixed corpus rows or a
    :func:`operators.kmeans.lloyd_fit` result.

    Broadcast the k centroids, assign each corpus vector its nearest cell,
    probe ``n_probe`` cells per query, equi-join on cell, exact cosine
    re-rank. Every step is pure column arithmetic (the JVM-side cosine
    fold), so a DuckDB oracle reproduces it bit-for-bit; the knn_ivf and
    knn_ivf_fixed registry queries are both hash-gated on this plan.

    Scale notes: centroid assignment is corpus ⨯ broadcast(k rows) scored
    per-row, then argmax via ONE partial-aggregated groupBy (max over a
    scalar (sim, -centroid_id) struct — lexicographic, ties to the smaller
    centroid id; the k scored copies of a row are produced in the same task,
    so map-side combine collapses them before the shuffle, and the vector
    rejoins by id afterwards). A per-row window would shuffle k×N rows
    instead.
    """
    # carry each corpus vector's norm out of the re-rank join (the
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
    # (query_id, qv, qvn, cell): the query vector rides the probe window,
    # which is query-set sized
    probes = probe_cells(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        ),
        centroids,
        n_probe,
        dim=dim,
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
    return rank_neighbors(scored, k)
