"""Product-quantization ANN (Jégou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011): split each d-dim vector into M
subvectors, quantize each against a per-subspace codebook of K codes, and
score queries against the M-byte codes instead of the full vectors
(asymmetric distance computation, ADC). The memory-bound scale path: a
10^9-vector corpus stores M bytes + id per vector, and candidate scoring
never touches the raw embedding column.

Plan shape (all distributed, no Python boundary):
1. encode: explode each corpus vector into its M subvectors (map-side),
   broadcast-join the M x K codebook, argmin per (vector, subspace) via ONE
   partial-aggregated groupBy (lexicographic min over a (dist, code) struct
   — ties to the smaller code id; the K scored copies collapse map-side).
2. ADC table: the same explode+join on the (small) query side yields
   dist(query_sub_m, code) for every (query, m, code) — M*K rows per query,
   broadcastable.
3. score: equi-join corpus codes to the ADC table on (m, code) and sum the
   M partial distances per (query, neighbor) — again partial-aggregated.
4. refine: :func:`similarity.topk` keeps the ``k * refine_factor``
   smallest ADC sums per query, :func:`similarity.refine_exact` re-scores
   them by exact cosine and a second ``topk`` keeps ``k``.

Engine-exactness (the oracle hash gate): every distance is the three-dot
identity |a-c|^2 = (a.a + c.c) - 2*a.c computed with the same sequential-
fold dot product the cosine path uses (bit-identical to DuckDB's
list_dot_product), combined in the same operation order; the cross-subspace
ADC sum goes through a fixed-point integer accumulator so its value is
independent of Spark's aggregation order AND of engine rounding modes
(see the _ADC_SCALE note). Codebooks are either FIXED corpus rows
(:func:`pq_codebook`, like knn_ivf_fixed's centroids) or per-subspace
Lloyd fits (:func:`fit_pq_codebooks_lloyd`); both are deterministic, so
both engines read identical codes, and both feed the same
:func:`knn_pq_with_codebook` plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from icenetetl_spark.operators.similarity import (
    dot,
    probe_cells,
    rank_neighbors,
    refine_exact,
    topk,
)

# fixed-point scale for the order-independent cross-subspace ADC sum:
# distances are quantized to integers with floor(d * 10^12 + 0.5) —
# identical IEEE ops on both engines — then summed exactly as BIGINTs.
# (A double->DECIMAL cast is not engine-portable here: the distances are
# dot products of coarse dyadic float32s and can land exactly on decimal
# half-boundaries, where HALF_UP vs HALF_EVEN rounding diverges — the
# failure mode observed on vector means at sf0.1.)
_ADC_SCALE = 12


def _l2sq(a: str, b: str) -> Column:
    """Squared L2 via the three-dot identity, in the exact op order the
    SQL oracle mirrors: (a.a + b.b) - 2*a.b."""
    return (dot(a, a) + dot(b, b)) - F.lit(2.0) * dot(a, b)


def _subvectors(
    df: DataFrame, id_alias: str, m: int, w: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, m, sub): each vector exploded into its M width-w slices —
    map-side only (sequence+explode+slice, no shuffle)."""
    return df.select(
        F.col(id_col).alias(id_alias),
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("m"),
        F.col(vec_col).alias("__v"),
    ).select(
        id_alias,
        "m",
        F.slice(F.col("__v"), F.col("m") * w + 1, w).alias("sub"),
    )


def pq_codebook(
    corpus: DataFrame,
    code_ids: list[int],
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    width: int | None = None,
) -> DataFrame:
    """Fixed codebook from corpus rows: (m, code_id, csub) — K rows per
    subspace, K = len(code_ids). Deterministic and SQL-reproducible."""
    d_width = _sub_width(width or _vector_width(corpus, vec_col), m)
    return _subvectors(
        corpus.filter(F.col(id_col).isin(code_ids)),
        "code_id",
        m,
        d_width,
        id_col,
        vec_col,
    ).select("m", "code_id", F.col("sub").alias("csub"))


def _vector_width(df: DataFrame, vec_col: str) -> int:
    """Vector dimensionality from the schema when declared, else from one
    row (metadata-sized driver fetch, same class as partition counts)."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return int(row["d"])


def _sub_width(width: int, m: int) -> int:
    """width / m, refusing remainders: a silent floor would drop the
    trailing ``width % m`` dimensions from codebook, encode, and ADC
    scoring (mirrors dedup.lsh_band_index's num_hashes/bands guard)."""
    if width % m != 0:
        raise ValueError(
            f"vector width {width} is not divisible by m={m}; "
            "PQ subspaces must partition the vector exactly"
        )
    return width // m


def encode_pq(
    corpus: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    width: int | None = None,
) -> DataFrame:
    """(neighbor_id, m, code): nearest code per (vector, subspace).
    One broadcast join + one partial-aggregated groupBy — the K scored
    copies of each (vector, subspace) collapse map-side before the
    shuffle, so the exchange carries N*M rows, not N*M*K."""
    from icenetetl_spark.operators.scale import spread

    # the N*M*K scoring projection below runs map-side
    # on the corpus partitioning; spread() keeps a row-group-bound scan
    # from serializing it (no-op once parallel — operators/scale.py)
    corpus = spread(corpus, id_col)
    w = _sub_width(width or _vector_width(corpus, vec_col), m)
    sub = _subvectors(corpus, "neighbor_id", m, w, id_col, vec_col)
    scored = sub.join(F.broadcast(codebook), "m").select(
        "neighbor_id",
        "m",
        F.struct(
            _l2sq("sub", "csub").alias("d"),
            F.col("code_id").alias("c"),
        ).alias("dc"),
    )
    return scored.groupBy("neighbor_id", "m").agg(
        F.min("dc").alias("mn")
    ).select("neighbor_id", "m", F.col("mn.c").alias("code"))


def fit_pq_codebooks_lloyd(
    corpus: DataFrame,
    init_ids: list[int],
    m: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    width: int | None = None,
    cache_key: tuple | str | None = None,
) -> DataFrame:
    """DETERMINISTIC trained codebooks: fixed-point Lloyd (the
    operators/kmeans construction, metric='l2' — the same
    squared-euclidean three-dot identity the encode step ranks by) from
    the ``init_ids`` seed rows' subvector slices. The update sums
    fixed-point integers, so the fit is independent of partitioning,
    bit-reproducible and has a DuckDB CTE twin, which is what lets the
    knn_pq_trained QUERY carry a value-hash gate.

    ALL m subspaces fit in ONE job per iteration: the corpus
    explodes to (id, subspace, subvector) once, each iteration
    equi-joins the m*k broadcast centroid frame on the subspace index,
    and one groupBy carries every subspace's argmin + quantized sums —
    ``iterations`` corpus passes total instead of the previous
    m*iterations (at 100 TB that is an 8x scan reduction; at gate scale
    it cut knn_pq_trained's fit from 16 sequential jobs to 2). Values
    are identical to the per-subspace fits: integer quantized sums are
    partition- and grouping-order independent, and the per-(row,
    subspace) argmin sees exactly the same 16 scored centroids.

    Returns the (m, code_id, csub) shape of :func:`pq_codebook`; code_id
    keeps the seed row's id (the encode argmin only needs distinct ids).
    ``cache_key`` memoizes and persists the fitted codebook
    (kmeans.memoized_fit; the lloyd_fit contract: the key must identify
    the (corpus, init) pair). At
    scale sample upstream with a deterministic id-hash predicate the
    oracle replays."""
    from icenetetl_spark.operators.kmeans import memoized_fit

    rows = memoized_fit(
        "pq_lloyd",
        corpus,
        cache_key,
        (m, iterations, id_col, vec_col, width, tuple(init_ids)),
        lambda: _fit_codebooks_lloyd(
            corpus, init_ids, m, iterations, id_col, vec_col, width
        ),
        disk_arity=3,
    )
    return corpus.sparkSession.createDataFrame(
        rows, "m INT, code_id INT, csub ARRAY<DOUBLE>"
    )


def _fit_codebooks_lloyd(
    corpus: DataFrame,
    init_ids: list[int],
    m: int,
    iterations: int,
    id_col: str,
    vec_col: str,
    width: int | None,
) -> list[tuple]:
    """The fit behind :func:`fit_pq_codebooks_lloyd`: (m, code_id, csub)
    rows."""
    from icenetetl_spark.operators.kmeans import (
        LLOYD_SCALE,
        _cfold,
        _check_quantized_bound,
        _quantized_sums,
        _vmax_agg,
    )
    spark = corpus.sparkSession
    w = _sub_width(width or _vector_width(corpus, vec_col), m)
    q = float(10**LLOYD_SCALE)
    # init slices: collect the k seed vectors once, slice driver-side —
    # no arithmetic, so the values equal Spark's F.slice of the cast array
    init_rows = (
        corpus.filter(F.col(id_col).isin(list(init_ids)))
        .select(
            F.col(id_col).alias("__sid"),
            F.col(vec_col).cast("array<double>").alias("__full"),
        )
        .collect()
    )
    cents: dict[int, list] = {
        mi: sorted(
            (int(r["__sid"]), [float(x) for x in r["__full"]][mi * w:(mi + 1) * w])
            for r in init_rows
        )
        for mi in range(m)
    }
    subs = F.array(
        *[
            F.struct(
                F.lit(mi).cast("int").alias("mi"),
                F.slice(F.col("__full"), mi * w + 1, w).alias("sv"),
            )
            for mi in range(m)
        ]
    )
    # persisted across iterations like kmeans.lloyd_fit's pre: every
    # iteration's equi-join re-reads the exploded (id, subspace,
    # subvector) projection otherwise. Unpersisted in the
    # finally below so the overflow-raise path (or any mid-loop failure)
    # frees the blocks too, mirroring lloyd_fit.
    pre = (
        corpus.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).cast("array<double>").alias("__full"),
        )
        .select("__id", F.explode(subs).alias("s"))
        .select(
            "__id", F.col("s.mi").alias("__mi"), F.col("s.sv").alias("__v")
        )
        .withColumn("__sn", dot("__v", "__v", w))
        .persist()
    )

    try:
        for _ in range(iterations):
            cdf = F.broadcast(
                spark.createDataFrame(
                    [
                        (mi, cid, cvec, _cfold(cvec))
                        for mi in range(m)
                        for cid, cvec in cents[mi]
                    ],
                    "__mi INT, centroid_id BIGINT, cvec ARRAY<DOUBLE>, __cn DOUBLE",
                )
            )
            vdot = dot("__v", "cvec", w)
            mcol = (F.col("__sn") + F.col("__cn")) - F.lit(2.0) * vdot
            best = F.min(
                F.struct(
                    F.col("__m").alias("m"), F.col("centroid_id").alias("cid")
                )
            )
            member = (
                pre.join(cdf, "__mi")
                .select("__id", "__mi", mcol.alias("__m"), "centroid_id", "__v")
                .groupBy("__id", "__mi")
                .agg(best.alias("b"), F.first("__v").alias("__v"))
                .select("__mi", F.col("b.cid").alias("cell"), "__v")
            )
            rows = (
                member.groupBy("__mi", "cell")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    *_quantized_sums(F.col("__v"), w, LLOYD_SCALE),
                    _vmax_agg(F.col("__v")),
                )
                .collect()
            )
            _check_quantized_bound(rows, LLOYD_SCALE, "fit_pq_codebooks_lloyd")
            means = {
                (int(r["__mi"]), int(r["cell"])): [
                    (float(r[f"s{i}"]) / float(r["n"])) / q
                    for i in range(1, w + 1)
                ]
                for r in rows
            }
            cents = {
                mi: [
                    (cid, means.get((mi, cid), cvec)) for cid, cvec in cents[mi]
                ]
                for mi in range(m)
            }
    finally:
        pre.unpersist(blocking=False)
    return [
        (mi, int(cid), cvec) for mi in range(m) for cid, cvec in cents[mi]
    ]


def knn_pq(
    queries: DataFrame,
    corpus: DataFrame,
    code_ids: list[int],
    k: int = 5,
    m: int = 8,
    refine_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """ADC top-k with exact re-rank: (query_id, neighbor_id, rank, cos).

    ``rank`` orders the exact cosine within the ``k * refine_factor`` ADC
    candidates (ties -> smaller neighbor id), mirroring knn_ivf_fixed's
    output contract so the oracle and recall tests compose."""
    width = dim or _vector_width(corpus, vec_col)  # dim skips the probe job
    codebook = pq_codebook(corpus, code_ids, m, id_col, vec_col, width)
    return knn_pq_with_codebook(
        queries, corpus, codebook, k, m, refine_factor, id_col, vec_col, width
    )


def knn_pq_with_codebook(
    queries: DataFrame,
    corpus: DataFrame,
    codebook: DataFrame,
    k: int,
    m: int,
    refine_factor: int,
    id_col: str,
    vec_col: str,
    width: int,
) -> DataFrame:
    """The PQ search plan over a given ``(m, code_id, csub)`` codebook:
    encode the corpus, score ADC candidates, re-rank the top
    ``k * refine_factor`` per query by exact cosine. :func:`knn_pq` feeds
    it fixed corpus-row codes, the knn_pq_trained registry query
    Lloyd-fitted ones (:func:`fit_pq_codebooks_lloyd`); ``width`` is the
    vector dimensionality."""
    best = _adc_candidates(
        queries, corpus, codebook, None, k * refine_factor, m, id_col,
        vec_col, width,
    )
    return rank_neighbors(
        refine_exact(best, queries, corpus, id_col, vec_col), k
    )


def _adc_candidates(
    queries: DataFrame,
    corpus: DataFrame,
    codebook: DataFrame,
    cand: DataFrame | None,
    n: int,
    m: int,
    id_col: str,
    vec_col: str,
    width: int,
) -> DataFrame:
    """The ``n`` smallest ADC sums per query as ``(query_id,
    neighbor_id)`` pairs, scored over the encoded corpus: every non-self
    (query, vector) pair when ``cand`` is None (:func:`knn_pq`), else
    only the pairs of ``cand`` (the IVF probe of :func:`knn_ivfpq_fixed`)
    — the one place the two plans differ."""
    from icenetetl_spark.functions.portable import fsum_col

    codes = encode_pq(corpus, codebook, m, id_col, vec_col, width)
    q_sub = _subvectors(
        queries, "query_id", m, _sub_width(width, m), id_col, vec_col
    )
    adc_table = F.broadcast(
        q_sub.join(F.broadcast(codebook), "m").select(
            "query_id",
            "m",
            F.col("code_id").alias("code"),
            _l2sq("sub", "csub").alias("qdist"),
        )
    )
    if cand is None:
        scored = codes.join(adc_table, ["m", "code"]).filter(
            F.col("query_id") != F.col("neighbor_id")
        )
    else:
        scored = cand.join(codes, "neighbor_id").join(
            adc_table, ["query_id", "m", "code"]
        )
    adc = scored.groupBy("query_id", "neighbor_id").agg(
        fsum_col("qdist", _ADC_SCALE).alias("adc")
    )
    best = topk(adc, "query_id", "adc", "neighbor_id", n, ascending=True)
    return best.select("query_id", "neighbor_id")


def knn_ivfpq_fixed(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    code_ids: list[int],
    k: int = 5,
    m: int = 8,
    n_probe: int = 4,
    refine_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """IVF-PQ: the composed billion-scale index (Jégou TPAMI'11 IVFADC,
    non-residual flavor — codes quantize the raw vectors, not the
    cell-relative residuals, keeping every distance SQL-reproducible for
    the oracle; the residual variant drops into the same plan by encoding
    ``v - centroid[cell(v)]``).

    IVF bounds WHO gets scored: each query probes its ``n_probe`` nearest
    of |C| cells, so candidate generation touches ~n_probe/|C| of the
    corpus instead of all of it. PQ bounds WHAT scoring costs: candidates
    are scored from M-byte codes via the broadcast ADC table — the
    embedding column is never shuffled; only the final
    ``k * refine_factor`` exact re-rank reads full vectors, keyed by id.
    Every exchange carries candidate-pair-sized rows (|cand| * M for the
    ADC sum), which is the honest cost of the index — at 10^9 vectors
    with 1024 cells and 8 probes, that is ~0.8%% of a brute-force scan
    with 8-byte payloads instead of 4*d-byte vectors.
    """
    from icenetetl_spark.operators.ivf import assign_cells_fixed

    # ``dim`` (statically-declared width) skips the one-row
    # _vector_width probe job, driver work paid at construction
    width = dim or _vector_width(corpus, vec_col)
    codebook = pq_codebook(corpus, code_ids, m, id_col, vec_col, width)
    # ``dim`` rides the codegen-unrolled dot on the corpus-sized cell
    # assignment; attach_vector=False skips the vector-reattach join —
    # candidates are scored from PQ codes, so this plan only reads ``cell``
    cells = assign_cells_fixed(
        corpus, centroids, id_col, vec_col, out_id="neighbor_id", dim=dim,
        attach_vector=False,
    ).select("neighbor_id", "cell")
    probes = probe_cells(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        ),
        centroids,
        n_probe,
        dim=dim,
    )
    cand = (
        F.broadcast(probes).join(cells, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    best = _adc_candidates(
        queries, corpus, codebook, cand, k * refine_factor, m, id_col,
        vec_col, width,
    )
    return rank_neighbors(
        refine_exact(best, queries, corpus, id_col, vec_col), k
    )
