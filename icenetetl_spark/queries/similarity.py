"""Similarity-search queries over ``embeddings``, binding
operators.similarity. Cosine is computed in double precision via sequential
fold on both engines — verified bit-identical to DuckDB's list_dot_product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from icenetetl_spark.operators import similarity as S
from icenetetl_spark.sources.testdata import load_table

K = 5
N_QUERIES = 10  # vec_id < 10 are the query vectors
LSH_BITS = 8
NEAR_DUP_T = 0.45
ND_BITS, ND_BANDS = 48, 12  # banded sign-LSH: 12 bands x 4 sign bits

_COS = """
    list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
    / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
       * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))))
"""


# Dispatch: every vector score is operators.similarity.dot/cosine, and
# the only choice a call site makes is whether to pass dim=EMB_DIM. Pass
# it where a stage computes ONE dot per row (hoisted norms: SemDeDup,
# near-dup refine, IVF/PQ probe and assignment) — the unrolled sum stays
# in whole-stage codegen. Omit it for 3-dot knn scoring: the knn
# operators take no dim and always run the fold, because the unrolled
# cosine (3 unrolled dots per pair in one projection) measured ~3x SLOWER
# there — A/B medians-of-3, same session, sf0.1: bruteforce fold 0.51s vs
# unrolled 1.50s; sign_lsh fold 0.31s vs unrolled 1.32s (the generated
# method outgrows the JIT and runs as interpreted bytecode). See
# SCALING.md "Cosine dispatch" for the full table including the
# pre-normalized variants (knn_bruteforce_prenorm is the
# stored-normalized-column plan).


def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return S.knn_bruteforce(queries, emb, k=K)


def knn_bruteforce_prenorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k over PRE-NORMALIZED embeddings — the stored-column scale
    plan: project v/||v|| once per row, materialize it (here a lazy
    localCheckpoint standing in for a stored table column), then score
    each pair with ONE dot instead of three. A/B at sf0.1 (medians-of-3,
    same session): at 1M pairs (|Q|=500) this plan is 2.4x faster than
    3-dot fold scoring (5.9s vs 14.4s); at 20k pairs (|Q|=10) the O(N)
    materialization overhead dominates (1.4s vs 0.5s) — so the default
    bench queries keep the fold and this query gates the large-|Q| plan.
    Hash-gated: normalize-then-dot is mirrored exactly in the oracle
    (list_transform + list_dot_product, same fp order)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return S.knn_bruteforce_prenorm(queries, emb, k=K, dim=EMB_DIM)


def knn_sign_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return S.knn_sign_lsh(queries, emb, k=K, num_bits=LSH_BITS)


def knn_sign_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH: the query's bucket plus every hamming-1
    neighbor bucket — the standard recall lever over single-bucket LSH
    (recall asserted monotone vs knn_sign_lsh in tests/test_similarity.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return S.knn_sign_lsh_multiprobe(
        queries, emb, k=K, num_bits=LSH_BITS
    )


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded sign-LSH near-dup pairs (the scale plan: explode bands,
    equi-join, cosine refine); the oracle mirrors the identical bands so the
    hash gate is exact. Recall of this plan vs the all-pairs answer is
    asserted in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    # exact=False: this query IS the scale plan; the approximation is an
    # explicit call-site decision (operator default is the exact form).
    return S.embedding_near_duplicates(
        emb, threshold=NEAR_DUP_T, num_bits=ND_BITS, bands=ND_BANDS,
        exact=False, dim=EMB_DIM,
    )


def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector statistics — array fold staying JVM-side."""
    emb = load_table(spark, sf_dir, "embeddings")
    norm = F.sqrt(S.dot("embedding", "embedding"))
    return (
        emb.select("label", "vec_id", norm.alias("norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("norm").alias("min_norm"),
            F.max("norm").alias("max_norm"),
        )
    )


# Deterministic Lloyd training (operators/kmeans.py): 3 iterations from
# the same 16 spread seed rows the fixed twin reads. The update sums
# fixed-point integers, so the fit is independent of partition order and
# the TRAINED quantizer is hash-gateable (the BPE construction); recall vs
# brute force is in tests/test_ivf.py.
LLOYD_ITERS = 3
# probe count shared by knn_ivf's Spark plan and its oracle construction
# (a bare literal duplicated on both sides desyncs the hash-gated pair on
# edit; mirrors the IVF_N_PROBE pattern)
LLOYD_N_PROBE = 6


def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer — deterministic fixed-point
    Lloyd fit (operators/kmeans.lloyd_fit) feeding the identical
    probe/assign/re-rank plan as knn_ivf_fixed. Hash-gated: the oracle
    unrolls the same iterations as chained CTEs, so fit AND search match
    bit-for-bit."""
    from icenetetl_spark.operators.ivf import knn_ivf_fixed_centroids
    from icenetetl_spark.operators.kmeans import lloyd_fit

    emb = load_table(spark, sf_dir, "embeddings")
    init = emb.filter(F.col("vec_id").isin(IVF_CENTROID_IDS)).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    cents = lloyd_fit(
        emb,
        init,
        iterations=LLOYD_ITERS,
        dim=EMB_DIM,
        cache_key=(sf_dir, "embeddings", tuple(IVF_CENTROID_IDS)),
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return knn_ivf_fixed_centroids(
        queries, emb, cents, k=K, n_probe=LLOYD_N_PROBE, dim=EMB_DIM
    )


# Fixed coarse-quantizer seeds: 16 corpus vectors by id, spread across the
# table. Makes the IVF assign/probe/re-rank plan SQL-reproducible (both
# engines read the same centroid rows from the table — no literal dumps to
# drift). The Lloyd-trained variant (knn_ivf) starts its fit from them.
IVF_CENTROID_IDS = list(range(7, 500, 31))  # 16 ids: 7, 38, ..., 472
IVF_N_PROBE = 4


def knn_ivf_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with fixed centroids — the oracle-gated twin of knn_ivf:
    identical probe/assign/re-rank plan, quantizer replaced by a fixed
    centroid table so DuckDB mirrors every step bit-for-bit."""
    from icenetetl_spark.operators.ivf import knn_ivf_fixed_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id").isin(IVF_CENTROID_IDS)).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return knn_ivf_fixed_centroids(
        queries, emb, cents, k=K, n_probe=IVF_N_PROBE, dim=EMB_DIM
    )


# Fixed hyperplane normals for projection LSH: 6 corpus rows -> 64 buckets
# over the 500-vector table (bucket occupancy ~8, enough for candidates).
HP_NORMAL_IDS = list(range(11, 500, 83))  # 6 ids: 11, 94, ..., 426


def knn_hyperplane_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True random-hyperplane LSH (Charikar SRP) with table-sourced
    normals — the trained/seeded-projection upgrade over the axis-sign
    degenerate (knn_sign_lsh). Fixed corpus rows keep it oracle-exact;
    production swaps in seeded gaussian normals on the same plan."""
    from icenetetl_spark.operators.similarity import knn_hyperplane_lsh as _hp

    emb = load_table(spark, sf_dir, "embeddings")
    # global-order window over SIX rows (the normals table), not data
    normals = emb.filter(F.col("vec_id").isin(HP_NORMAL_IDS)).select(
        F.row_number().over(Window.orderBy("vec_id")).alias("bit_idx"),
        F.col("embedding").alias("nvec"),
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return _hp(queries, emb, normals, k=K)


# Fixed PQ codebook: 16 corpus rows per subspace (slices of the same 16
# vectors), spread across the table. M=8 subspaces over d=64; exact-cosine
# re-rank of the top k*PQ_REFINE ADC candidates.
PQ_CODE_IDS = list(range(3, 469, 31))  # 16 ids: 3, 34, ..., 468
PQ_M = 8
PQ_REFINE = 4


# "new batch" split for the incremental-index query (same convention as
# dedup_minhash_incremental): every 5th vector arrives after the index
# was built over the rest.
IVF_INCR_MOD = 5


def knn_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF-index maintenance: a NEW embedding batch is
    assigned to the EXISTING fixed cells (one broadcast crossJoin over
    the batch only — O(batch x k) work, the indexed corpus is never
    rescanned) and its postings merged with the stored index. Cell
    assignment is per-row against a fixed centroid table (no
    corpus-dependent state), so the merged postings must equal a full
    rebuild — the oracle computes the rebuild (nearest-1 cell per vector
    over ALL vectors, the knn_ivf_fixed c_scored construction), and
    tests/test_ivf.py pins incremental == rebuild frame-equal. The
    trained-quantizer analog is the same merge with knn_ivf's Lloyd
    centroids frozen at index-build time (re-clustering is a rebuild by
    definition)."""
    from icenetetl_spark.operators.ivf import assign_cells_fixed

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id").isin(IVF_CENTROID_IDS)).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    old = emb.filter(F.col("vec_id") % IVF_INCR_MOD != 0)
    new = emb.filter(F.col("vec_id") % IVF_INCR_MOD == 0)
    # attach_vector=False: postings are (id, cell, csim) — the
    # vector-reattach join per side would be dropped weight (see ivf.py)
    idx_old = assign_cells_fixed(
        old, cents, dim=EMB_DIM, attach_vector=False
    )  # the stored index
    idx_new = assign_cells_fixed(
        new, cents, dim=EMB_DIM, attach_vector=False
    )  # O(batch) delta
    return idx_old.unionByName(idx_new).select("vec_id", "cell", "csim")


def knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/pq.knn_pq): the memory-bound
    scale path — M-byte codes replace raw vectors during candidate
    scoring. Fixed corpus-row codebooks keep every step SQL-reproducible
    (same construction as knn_ivf_fixed); knn_pq_trained runs the
    identical plan on Lloyd-trained codebooks."""
    from icenetetl_spark.operators.pq import knn_pq as _knn_pq

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return _knn_pq(
        queries, emb, PQ_CODE_IDS, k=K, m=PQ_M, refine_factor=PQ_REFINE,
        dim=EMB_DIM,
    )


# PQ codebook training: 2 deterministic L2-Lloyd iterations per subspace
# from the PQ_CODE_IDS seed slices (8 subspaces x 2 iterations of the
# kmeans.py fixed-point update — the oracle unrolls all 16 chains).
PQ_LLOYD_ITERS = 2


def knn_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ with TRAINED per-subspace codebooks — the deterministic
    fixed-point Lloyd fit (operators/pq.fit_pq_codebooks_lloyd) on the
    identical encode/ADC/refine plan as knn_pq. Hash-gated: the oracle
    unrolls each subspace's fit as chained CTEs; recall vs brute force is
    pinned in tests/test_pq.py."""
    from icenetetl_spark.operators.pq import (
        fit_pq_codebooks_lloyd,
        knn_pq_with_codebook,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    codebook = fit_pq_codebooks_lloyd(
        emb,
        PQ_CODE_IDS,
        m=PQ_M,
        iterations=PQ_LLOYD_ITERS,
        width=EMB_DIM,
        cache_key=(sf_dir, "embeddings"),
    )
    return knn_pq_with_codebook(
        queries, emb, codebook, K, PQ_M, PQ_REFINE, "vec_id", "embedding",
        EMB_DIM,
    )


def knn_ivfpq_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (operators/pq.knn_ivfpq_fixed): the composed
    billion-scale index — IVF cells bound the candidate set, PQ codes
    bound per-candidate scoring cost, exact cosine re-ranks the survivors.
    Fixed centroids + fixed codebook rows (the knn_ivf_fixed / knn_pq
    construction) keep every step oracle-exact; the trained variants
    (knn_ivf, knn_pq_trained) drop into the same plan."""
    from icenetetl_spark.operators.pq import knn_ivfpq_fixed as _ivfpq

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id").isin(IVF_CENTROID_IDS)).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return _ivfpq(
        queries,
        emb,
        cents,
        PQ_CODE_IDS,
        k=K,
        m=PQ_M,
        n_probe=IVF_N_PROBE,
        refine_factor=PQ_REFINE,
        dim=EMB_DIM,
    )


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors (operators/similarity.vector_mean_long):
    the element-wise mean aggregation behind IVF training, class
    prototypes, and embedding-drift monitors. Registered in the long form
    (label, pos, mean, n_vectors) — scalar columns hash-canonicalize;
    API callers wanting the array shape use vector_mean (same plan plus
    one reassembly aggregation, equality pinned in tests)."""
    from icenetetl_spark.operators.similarity import vector_mean_long

    emb = load_table(spark, sf_dir, "embeddings")
    return vector_mean_long(emb, ["label"])


# SemDeDup threshold: within-cell cosine above this marks a semantic
# duplicate pair. 0.3 yields ~200 within-cell pairs over the 500-vector
# testdata (non-vacuous groups) while staying far from the all-pairs floor.
SEM_T = 0.3
# SemDeDup centroid density: every mod-th vector is a centroid with
# mod = ceil(2*sqrt(N)), so cell count k ~ sqrt(N)/2 and occupancy
# ~ 2*sqrt(N). With a FIXED centroid set (the old IVF_CENTROID_IDS
# list), occupancy grows linearly with N and the within-cell pair stage
# goes quadratic — measured 116x wall at 10x data. The sqrt law BALANCES
# the two stages (assignment work N*k and pair work N*occupancy are both
# ~N^1.5) and keeps the broadcast centroid table sqrt(N)-sized — bounded
# in practice (10^9 vectors -> ~16k centroids, a few MB), never
# corpus-sized. The mod is a pure function of COUNT(*), so the oracle
# reproduces it; at true cluster scale the production path is
# dedup_semantic_trained (Lloyd-trained centroids, two-level routing into
# the same pair/component/keep plan).
EMB_DIM = 64  # embeddings table width — enables the codegen-unrolled cosine

# Per-cell block cap for the SemDeDup pair stage. The sqrt
# law balances the MEAN occupancy, but pair work is quadratic in the
# occupancy of the WORST cell, and real (and perturbed-stress) corpora are
# skew-dense: at 10x data one hot cell materialized 8.1M above-threshold
# pairs — 44s of a 59s run. The cap re-splits every cell into deterministic
# blocks of <= SEM_CAP members (ranked by csim DESC, so near-prototypical
# members stay co-blocked), bounding candidate pairs to N*SEM_CAP/2 —
# linear in N under ANY skew. 32 bites already at sf0.01 (occupancy ~45),
# so the driver's hash gate exercises the blocking path itself.
SEM_CAP = 32


def _sem_cell_mod(n: int) -> int:
    import math

    return max(2, math.ceil(2.0 * math.sqrt(n)))


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) with FIXED centroids — hash-gated:
    cluster-by-nearest-centroid, within-cell cosine pairs, connected
    components, keep the least-prototypical member per group. The plan
    never materializes a cross-cell pair; the oracle mirrors every step
    (assignment argmax, pair threshold, recursive closure, keep argmin).
    Centroids are the density-scaled subset vec_id % ceil(2*sqrt(N)) == 0
    (sqrt-balanced assignment/pair work, sqrt(N)-bounded broadcast — see
    _sem_cell_mod note), oversized cells are re-split into <= SEM_CAP
    blocks (linear-in-N pair work under any cell skew — see SEM_CAP note),
    and every cosine is the codegen-unrolled twin (bit-identical values,
    no interpreted fold). The N lookup is one 1-row count — table
    metadata, not data, on the driver."""
    from icenetetl_spark.operators.semdedup import semdedup

    emb = load_table(spark, sf_dir, "embeddings")
    mod = _sem_cell_mod(emb.count())
    cents = emb.filter(F.col("vec_id") % mod == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    return semdedup(emb, cents, threshold=SEM_T, dim=EMB_DIM, cell_cap=SEM_CAP)


# Coarse routing table for the TRAINED two-level assignment: a fixed
# id-subset of the trained centroids themselves (indices 0,3,...,15 of the
# sorted init ids -> k1 = 6 ~= sqrt(P*k2) for k2 = 16, P = 2 — the N^1.25
# balance point). Lloyd centroids KEEP their init ids across updates, so
# the subset is a pure literal both engines share, and coarse rows being a
# SUBSET of the fine rows satisfies the two-level assignment's
# no-empty-coarse-cell contract (operators/semdedup.assign_cells_two_level).
SEM_TL_TRAINED_COARSE_IDS = IVF_CENTROID_IDS[::3]


def dedup_semantic_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the paper's TRAINED clustering, routed through the
    HIERARCHICAL two-level assignment as the family's scale default (the
    flat N x k crossJoin assignment is the repo's only scale-weak plan,
    Theta(N^1.5) on a sqrt-law k, 140s at 100x; the two-level routing is
    Theta(N^1.25), measured 1.3-2.0x cheaper at 100x and widening every
    decade — SCALING.md "SemDeDup two-level").

    The deterministic fixed-point Lloyd fit (operators/kmeans.py) trains
    the FINE centroids; the COARSE routing table is a fixed id-subset of
    those same trained centroids (coarse c fine keeps every coarse cell
    non-empty), and vectors route coarse-then-fine through
    assign_cells_two_level before the identical block-capped
    pair/component/keep plan. Hash-gated: the oracle unrolls the same
    Lloyd chain AND the same two-level routing, so clustering, routing
    and dedup all match bit-for-bit. Dispatch rule: flat assignment
    (operators/semdedup.semdedup) only when k is small enough that N*k is
    affordable — one-level gates like dedup_semantic keep it as the
    paper-exact baseline; every trained/production path routes
    hierarchically."""
    from icenetetl_spark.operators.kmeans import lloyd_fit
    from icenetetl_spark.operators.semdedup import semdedup_two_level

    emb = load_table(spark, sf_dir, "embeddings")
    init = emb.filter(F.col("vec_id").isin(IVF_CENTROID_IDS)).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    # identical (corpus, init, params) as knn_ivf -> the memoized fit is
    # SHARED: a gate window running both pays one Lloyd fit per session
    cents = lloyd_fit(
        emb,
        init,
        iterations=LLOYD_ITERS,
        dim=EMB_DIM,
        cache_key=(sf_dir, "embeddings", tuple(IVF_CENTROID_IDS)),
    )
    coarse = cents.filter(
        F.col("centroid_id").isin(SEM_TL_TRAINED_COARSE_IDS)
    )
    return semdedup_two_level(
        emb, coarse, cents, threshold=SEM_T, dim=EMB_DIM,
        cell_cap=SEM_CAP, n_probe=SEM_TL_PROBE,
    )


# coarse-routing probe width for the two-level assignment, shared by the
# Spark plan and its oracle (the LLOYD_N_PROBE lesson: a literal
# duplicated on both sides desyncs the hash-gated pair on edit). P=2
# doubles level-2 fanout (still ~7x under flat at 100x) and lifted
# flat-assignment agreement 0.61 -> ~0.8 at sf0.01 (test-pinned).
SEM_TL_PROBE = 2


def _sem_two_level_mods(n: int) -> tuple[int, int]:
    """(mod1, mod2): fine density mod2 = the sqrt law (_sem_cell_mod);
    coarse density mod1 = mod2 * ceil(n^0.25) — a MULTIPLE of mod2, so
    the coarse id set is a subset of the fine set (the two-level
    assignment's no-empty-coarse-cell contract), giving k1 ~= sqrt(k2)
    coarse cells (the N^1.25 balance point). Pure functions of COUNT(*),
    replayed verbatim by the oracle."""
    import math

    mod2 = _sem_cell_mod(n)
    m = max(2, math.ceil(math.sqrt(math.sqrt(n))))
    return mod2 * m, mod2


def dedup_semantic_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with HIERARCHICAL (two-level) assignment — the answer
    to the cap study's finding that flat assignment's N x k crossJoin,
    not the capped pair stage, is the second-decade bottleneck
    (SCALING.md "SemDeDup cap study"): vectors route to a coarse cell
    (N x k1) and score only that cell's fine centroids (N x k2/k1), so
    assignment work is Theta(N^1.25) vs flat Theta(N^1.5) while the
    downstream block-capped pair/component/keep plan is IDENTICAL.
    Hash-gated: both argmax levels are fixed corpus rows, so the oracle
    mirrors the routing exactly (the standard IVF approximation — a
    vector whose true nearest fine centroid lives in another coarse cell
    keeps its best in-cell one — is part of the gated semantics)."""
    from icenetetl_spark.operators.semdedup import semdedup_two_level

    emb = load_table(spark, sf_dir, "embeddings")
    mod1, mod2 = _sem_two_level_mods(emb.count())
    fine = emb.filter(F.col("vec_id") % mod2 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    coarse = emb.filter(F.col("vec_id") % mod1 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    return semdedup_two_level(
        emb, coarse, fine, threshold=SEM_T, dim=EMB_DIM, cell_cap=SEM_CAP,
        n_probe=SEM_TL_PROBE,
    )


def f_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core array vocabulary over the embedding column (SURVEY §2.7
    extension surface — the reference has no array functions): slice,
    element transform, size, min/max, membership, distinct count, and an
    exact integer fold. All JVM expressions; all scalar outputs (the
    driver canonicalizer can't sort array cells)."""
    emb = load_table(spark, sf_dir, "embeddings")
    ints = F.transform(
        F.slice(F.col("embedding"), 1, 8),
        lambda x: F.floor(x.cast("double") * 100).cast("int"),
    )
    a = F.col("__a")
    return emb.select("vec_id", ints.alias("__a")).select(
        "vec_id",
        F.size(a).alias("n"),
        F.array_max(a).alias("max_v"),
        F.array_min(a).alias("min_v"),
        F.array_contains(a, F.lit(0)).alias("has_zero"),
        F.size(F.array_distinct(a)).alias("n_distinct"),
        F.aggregate(a, F.lit(0), lambda acc, x: acc + x).alias("total"),
    )


QUERIES = {
    "knn_bruteforce": knn_bruteforce,
    "knn_bruteforce_prenorm": knn_bruteforce_prenorm,
    "knn_sign_lsh": knn_sign_lsh,
    "knn_sign_lsh_multiprobe": knn_sign_lsh_multiprobe,
    "knn_ivf": knn_ivf,
    "knn_ivf_fixed": knn_ivf_fixed,
    "knn_ivf_incremental": knn_ivf_incremental,
    "knn_pq": knn_pq,
    "knn_pq_trained": knn_pq_trained,
    "knn_ivfpq_fixed": knn_ivfpq_fixed,
    "knn_hyperplane_lsh": knn_hyperplane_lsh,
    "f_array_funcs": f_array_funcs,
    "embedding_near_dup": embedding_near_dup,
    "embedding_norms": embedding_norms,
    "embedding_centroids": embedding_centroids,
    "dedup_semantic": dedup_semantic,
    "dedup_semantic_trained": dedup_semantic_trained,
    "dedup_semantic_two_level": dedup_semantic_two_level,
}

def _sign_string(t: str, n: int) -> str:
    """SQL twin of sign_bucket(vec, n): '0'/'1' sign string of the first n
    coordinates (DuckDB lists are 1-indexed)."""
    return " || ".join(
        f"(CASE WHEN {t}.embedding[{i + 1}] > 0 THEN '1' ELSE '0' END)"
        for i in range(n)
    )


_SIGN_BUCKET = lambda t: _sign_string(t, LSH_BITS)  # noqa: E731


def _ivf_oracle(cents_sql: str, n_probe: int) -> str:
    """knn_ivf_fixed_centroids mirrored step for step over ANY cents CTE
    chain: nearest-1 cell per corpus vector (ties -> smaller centroid_id),
    ``n_probe`` nearest cells per query, equi-join on cell, exact-cosine
    top-k re-rank. The fixed twin passes the 16 seed rows; the trained
    twin passes the unrolled deterministic Lloyd fit
    (operators/kmeans.lloyd_cents_cte) — same search text either way, so
    the two gates cannot drift."""
    return f"""
        WITH {cents_sql},
        c_scored AS (
            SELECT c.vec_id AS neighbor_id, c.embedding AS cv, ct.centroid_id,
                   list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                    CAST(ct.cvec AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                            CAST(c.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(ct.cvec AS DOUBLE[]),
                                              CAST(ct.cvec AS DOUBLE[])))) AS sim
            FROM embeddings c, cents ct
        ),
        corpus_cells AS (
            SELECT neighbor_id, cv, centroid_id AS cell FROM (
                SELECT *, row_number() OVER (PARTITION BY neighbor_id
                          ORDER BY sim DESC, centroid_id) AS rk
                FROM c_scored
            ) WHERE rk = 1
        ),
        q_scored AS (
            SELECT q.vec_id AS query_id, q.embedding AS qv, ct.centroid_id,
                   list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                    CAST(ct.cvec AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                            CAST(q.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(ct.cvec AS DOUBLE[]),
                                              CAST(ct.cvec AS DOUBLE[])))) AS sim
            FROM embeddings q, cents ct WHERE q.vec_id < {N_QUERIES}
        ),
        probes AS (
            SELECT query_id, qv, centroid_id AS cell FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY sim DESC, centroid_id) AS rk
                FROM q_scored
            ) WHERE rk <= {n_probe}
        ),
        scored AS (
            SELECT p.query_id, cc.neighbor_id,
                   list_dot_product(CAST(p.qv AS DOUBLE[]), CAST(cc.cv AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(p.qv AS DOUBLE[]),
                                            CAST(p.qv AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(cc.cv AS DOUBLE[]),
                                              CAST(cc.cv AS DOUBLE[])))) AS cos
            FROM probes p JOIN corpus_cells cc ON p.cell = cc.cell
            WHERE p.query_id != cc.neighbor_id
        ),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos
        FROM ranked WHERE rank <= {K}
    """


_FIXED_CENTS_SQL = f"""cents AS (
            SELECT vec_id AS centroid_id, embedding AS cvec
            FROM embeddings WHERE vec_id IN ({", ".join(map(str, IVF_CENTROID_IDS))})
        )"""


def _lloyd_cents_sql(iterations: int) -> str:
    """Unrolled deterministic-Lloyd CTE chain ending in a ``cents`` CTE —
    the trained quantizer both knn_ivf and dedup_semantic_trained feed
    their fixed plans."""
    from icenetetl_spark.operators.kmeans import lloyd_cents_cte

    return (
        lloyd_cents_cte(
            "embeddings",
            f"vec_id IN ({', '.join(map(str, IVF_CENTROID_IDS))})",
            iterations,
            EMB_DIM,
            metric="cosine",
        )
        + ", cents AS (SELECT centroid_id, cvec FROM km_fit)"
    )


ORACLES = {
    "f_array_funcs": """
        WITH a AS (
            SELECT vec_id,
                   list_transform(embedding[1:8],
                       x -> CAST(FLOOR(CAST(x AS DOUBLE) * 100) AS INTEGER))
                       AS arr
            FROM embeddings
        )
        SELECT vec_id,
               CAST(len(arr) AS INTEGER) AS n,
               list_max(arr) AS max_v,
               list_min(arr) AS min_v,
               list_contains(arr, 0) AS has_zero,
               CAST(len(list_distinct(arr)) AS INTEGER) AS n_distinct,
               CAST(list_sum(arr) AS INTEGER) AS total
        FROM a
    """,
    # fixed-point integer accumulator (floor(x*1e9 + 0.5) — identical
    # IEEE ops on both engines; decimal casts diverge on coarse dyadic
    # float32 values that land exactly on half-boundaries)
    "embedding_centroids": """
        WITH ex AS (
            SELECT label,
                   CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS pos,
                   unnest(embedding) AS x
            FROM embeddings
        )
        SELECT label, pos,
               CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1000000000.0 + 0.5)
                             AS BIGINT)) AS DOUBLE)
                   / 1000000000.0 / count(*) AS mean,
               count(*) AS n_vectors
        FROM ex GROUP BY label, pos
    """,
    "knn_bruteforce": f"""
        WITH scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {_COS} AS cos
            FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ), ranked AS (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos
        FROM ranked WHERE rank <= {K}
    """,
    # Mirrors knn_bruteforce_prenorm's fp grouping exactly: normalize each
    # side once (x / sqrt(sequential-dot)), then ONE sequential dot per
    # pair. list_dot_product == the left-to-right fold (verified
    # bit-identical elsewhere in this module); the division is the same
    # IEEE double op on both engines.
    "knn_bruteforce_prenorm": f"""
        WITH nemb AS (
            SELECT vec_id,
                   list_transform(dv, x -> x / sqrt(list_dot_product(dv, dv)))
                       AS nv
            FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv
                  FROM embeddings)
        ), scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   list_dot_product(q.nv, c.nv) AS cos
            FROM nemb q JOIN nemb c ON q.vec_id != c.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ), ranked AS (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos
        FROM ranked WHERE rank <= {K}
    """,
    "knn_sign_lsh": f"""
        WITH q AS (SELECT vec_id, embedding, {_SIGN_BUCKET('embeddings')} AS bucket
                   FROM embeddings WHERE vec_id < {N_QUERIES}),
             c AS (SELECT vec_id, embedding, {_SIGN_BUCKET('embeddings')} AS bucket
                   FROM embeddings),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_COS} AS cos
            FROM q JOIN c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
        ), ranked AS (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos
        FROM ranked WHERE rank <= {K}
    """,
    # Multi-probe: UNION of the query bucket and each 1-bit-flipped variant,
    # then the same bucket equi-join + exact top-k as knn_sign_lsh.
    "knn_sign_lsh_multiprobe": f"""
        WITH qb AS (SELECT vec_id, embedding, {_SIGN_BUCKET('embeddings')} AS b
                    FROM embeddings WHERE vec_id < {N_QUERIES}),
             probes AS (
                 SELECT vec_id, embedding, b AS bucket FROM qb
                 {"".join(
                     f" UNION ALL SELECT vec_id, embedding,"
                     f" substr(b, 1, {i}) ||"
                     f" (CASE WHEN substr(b, {i + 1}, 1) = '1' THEN '0' ELSE '1' END) ||"
                     f" substr(b, {i + 2}, {LSH_BITS - i - 1}) AS bucket FROM qb"
                     for i in range(LSH_BITS))}
             ),
             c AS (SELECT vec_id, embedding, {_SIGN_BUCKET('embeddings')} AS bucket
                   FROM embeddings),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_COS} AS cos
            FROM probes q JOIN c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
        ), ranked AS (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos
        FROM ranked WHERE rank <= {K}
    """,
    # Mirrors the banded sign-LSH plan: candidate = agree on ALL bits of ANY
    # band (band i = sign bits of coords [i*w, (i+1)*w)), then exact-cosine
    # refine. The OR-join is fine for the oracle's small data; Spark runs the
    # same semantics as an exploded equi-join.
    "embedding_near_dup": f"""
        WITH b AS (SELECT vec_id, embedding,
                          {_sign_string("embeddings", ND_BITS)} AS sig
                   FROM embeddings)
        SELECT * FROM (
            SELECT q.vec_id AS id_a, c.vec_id AS id_b, {_COS} AS cos
            FROM b q JOIN b c
              ON q.vec_id < c.vec_id
             AND ({" OR ".join(
                 f"substr(q.sig, {i * (ND_BITS // ND_BANDS) + 1}, {ND_BITS // ND_BANDS})"
                 f" = substr(c.sig, {i * (ND_BITS // ND_BANDS) + 1}, {ND_BITS // ND_BANDS})"
                 for i in range(ND_BANDS))})
        ) WHERE cos >= {NEAR_DUP_T}
    """,
    # Mirrors knn_ivf_fixed_centroids step for step (see _ivf_oracle).
    "knn_ivf_fixed": _ivf_oracle(_FIXED_CENTS_SQL, IVF_N_PROBE),
    # The TRAINED twin: identical search text over the unrolled
    # deterministic-Lloyd centroid chain (operators/kmeans.py).
    "knn_ivf": _ivf_oracle(_lloyd_cents_sql(LLOYD_ITERS), LLOYD_N_PROBE),
    # Rebuild-equality oracle for the incremental index: nearest-1 cell
    # per vector over ALL vectors (ties -> smaller centroid_id) — the
    # merged old+batch postings must equal this by the per-row-assignment
    # argument in the query docstring.
    "knn_ivf_incremental": f"""
        WITH cents AS (
            SELECT vec_id AS centroid_id, embedding AS cvec
            FROM embeddings WHERE vec_id IN ({", ".join(map(str, IVF_CENTROID_IDS))})
        ),
        scored AS (
            SELECT e.vec_id, ct.centroid_id,
                   list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                    CAST(ct.cvec AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                            CAST(e.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(ct.cvec AS DOUBLE[]),
                                              CAST(ct.cvec AS DOUBLE[])))) AS sim
            FROM embeddings e, cents ct
        )
        SELECT vec_id, centroid_id AS cell, sim AS csim FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY sim DESC, centroid_id) AS rk
            FROM scored
        ) WHERE rk = 1
    """,
    # Mirrors knn_hyperplane_lsh: normals = the same 6 corpus rows indexed
    # by vec_id order; bucket = sign string of list_dot_product against
    # each normal (same fold => same signs); then the usual bucket join +
    # exact-cosine top-k.
    "knn_hyperplane_lsh": f"""
        WITH normals AS (
            SELECT row_number() OVER (ORDER BY vec_id) AS bit_idx,
                   embedding AS nvec
            FROM embeddings
            WHERE vec_id IN ({", ".join(map(str, HP_NORMAL_IDS))})
        ),
        buckets AS (
            SELECT e.vec_id, e.embedding,
                   string_agg(
                       CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                  CAST(n.nvec AS DOUBLE[])) > 0
                            THEN '1' ELSE '0' END,
                       '' ORDER BY n.bit_idx) AS bucket
            FROM embeddings e CROSS JOIN normals n
            GROUP BY e.vec_id, e.embedding
        ),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_COS} AS cos
            FROM buckets q JOIN buckets c
              ON q.bucket = c.bucket AND q.vec_id != c.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos
        FROM ranked WHERE rank <= {K}
    """,
    # Mirrors operators/pq step for step (see _pq_oracle below; entries
    # assigned after the dict): fixed codebook rows for knn_pq, unrolled
    # per-subspace Lloyd chains for knn_pq_trained.
    "knn_pq": (_pq_search_template := f"""
        WITH {{codebook}},
        c_sub AS (
            {" UNION ALL ".join(
                f"SELECT vec_id AS neighbor_id, {mm} AS m,"
                f" CAST(embedding[{mm * 8 + 1}:{mm * 8 + 8}] AS DOUBLE[]) AS sub"
                f" FROM embeddings"
                for mm in range(8))}
        ),
        codes AS (
            SELECT neighbor_id, m, code_id AS code FROM (
                SELECT neighbor_id, m, code_id,
                       row_number() OVER (
                           PARTITION BY neighbor_id, m
                           ORDER BY (list_dot_product(sub, sub)
                                     + list_dot_product(csub, csub))
                                    - 2 * list_dot_product(sub, csub),
                                    code_id) AS rk
                FROM c_sub JOIN codebook USING (m)
            ) WHERE rk = 1
        ),
        adc_table AS (
            SELECT c_sub.neighbor_id AS query_id, m, code_id AS code,
                   (list_dot_product(sub, sub) + list_dot_product(csub, csub))
                   - 2 * list_dot_product(sub, csub) AS qdist
            FROM c_sub JOIN codebook USING (m)
            WHERE c_sub.neighbor_id < {N_QUERIES}
        ),
        adc AS (
            SELECT query_id, neighbor_id,
                   CAST(SUM(CAST(FLOOR(qdist * 1000000000000.0 + 0.5)
                                 AS BIGINT)) AS DOUBLE)
                       / 1000000000000.0 AS adc
            FROM codes JOIN adc_table USING (m, code)
            WHERE query_id != neighbor_id
            GROUP BY query_id, neighbor_id
        ),
        cand AS (
            SELECT query_id, neighbor_id FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY adc, neighbor_id) AS rk
                FROM adc
            ) WHERE rk <= {K * 4}
        ),
        refined AS (
            SELECT cand.query_id, cand.neighbor_id, {_COS} AS cos
            FROM cand
            JOIN embeddings q ON q.vec_id = cand.query_id
            JOIN embeddings c ON c.vec_id = cand.neighbor_id
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM refined
        ) WHERE rank <= {K}
    """),
    # Mirrors operators/pq.knn_ivfpq_fixed: the knn_ivf_fixed cell
    # CTEs bound the candidate pairs, the knn_pq code/ADC CTEs score
    # exactly those pairs (same fixed-point sum), same exact re-rank.
    "knn_ivfpq_fixed": f"""
        WITH cents AS (
            SELECT vec_id AS centroid_id, embedding AS cvec
            FROM embeddings WHERE vec_id IN ({", ".join(map(str, IVF_CENTROID_IDS))})
        ),
        c_scored AS (
            SELECT c.vec_id AS neighbor_id, ct.centroid_id,
                   list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                    CAST(ct.cvec AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                            CAST(c.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(ct.cvec AS DOUBLE[]),
                                              CAST(ct.cvec AS DOUBLE[])))) AS sim
            FROM embeddings c, cents ct
        ),
        corpus_cells AS (
            SELECT neighbor_id, centroid_id AS cell FROM (
                SELECT *, row_number() OVER (PARTITION BY neighbor_id
                          ORDER BY sim DESC, centroid_id) AS rk
                FROM c_scored
            ) WHERE rk = 1
        ),
        q_cell_scored AS (
            SELECT q.vec_id AS query_id, ct.centroid_id,
                   list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                    CAST(ct.cvec AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                            CAST(q.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(ct.cvec AS DOUBLE[]),
                                              CAST(ct.cvec AS DOUBLE[])))) AS sim
            FROM embeddings q, cents ct WHERE q.vec_id < {N_QUERIES}
        ),
        probes AS (
            SELECT query_id, centroid_id AS cell FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY sim DESC, centroid_id) AS rk
                FROM q_cell_scored
            ) WHERE rk <= {IVF_N_PROBE}
        ),
        cand_ivf AS (
            SELECT p.query_id, cc.neighbor_id
            FROM probes p JOIN corpus_cells cc ON p.cell = cc.cell
            WHERE p.query_id != cc.neighbor_id
        ),
        codebook AS (
            {" UNION ALL ".join(
                f"SELECT {mm} AS m, vec_id AS code_id,"
                f" CAST(embedding[{mm * 8 + 1}:{mm * 8 + 8}] AS DOUBLE[]) AS csub"
                f" FROM embeddings WHERE vec_id IN ({', '.join(map(str, PQ_CODE_IDS))})"
                for mm in range(8))}
        ),
        c_sub AS (
            {" UNION ALL ".join(
                f"SELECT vec_id AS neighbor_id, {mm} AS m,"
                f" CAST(embedding[{mm * 8 + 1}:{mm * 8 + 8}] AS DOUBLE[]) AS sub"
                f" FROM embeddings"
                for mm in range(8))}
        ),
        codes AS (
            SELECT neighbor_id, m, code_id AS code FROM (
                SELECT neighbor_id, m, code_id,
                       row_number() OVER (
                           PARTITION BY neighbor_id, m
                           ORDER BY (list_dot_product(sub, sub)
                                     + list_dot_product(csub, csub))
                                    - 2 * list_dot_product(sub, csub),
                                    code_id) AS rk
                FROM c_sub JOIN codebook USING (m)
            ) WHERE rk = 1
        ),
        adc_table AS (
            SELECT c_sub.neighbor_id AS query_id, m, code_id AS code,
                   (list_dot_product(sub, sub) + list_dot_product(csub, csub))
                   - 2 * list_dot_product(sub, csub) AS qdist
            FROM c_sub JOIN codebook USING (m)
            WHERE c_sub.neighbor_id < {N_QUERIES}
        ),
        adc AS (
            SELECT cand_ivf.query_id, cand_ivf.neighbor_id,
                   CAST(SUM(CAST(FLOOR(qdist * 1000000000000.0 + 0.5)
                                 AS BIGINT)) AS DOUBLE)
                       / 1000000000000.0 AS adc
            FROM cand_ivf
            JOIN codes ON codes.neighbor_id = cand_ivf.neighbor_id
            JOIN adc_table ON adc_table.query_id = cand_ivf.query_id
                          AND adc_table.m = codes.m
                          AND adc_table.code = codes.code
            GROUP BY cand_ivf.query_id, cand_ivf.neighbor_id
        ),
        cand AS (
            SELECT query_id, neighbor_id FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY adc, neighbor_id) AS rk
                FROM adc
            ) WHERE rk <= {K * PQ_REFINE}
        ),
        refined AS (
            SELECT cand.query_id, cand.neighbor_id, {_COS} AS cos
            FROM cand
            JOIN embeddings q ON q.vec_id = cand.query_id
            JOIN embeddings c ON c.vec_id = cand.neighbor_id
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM refined
        ) WHERE rank <= {K}
    """,
    "embedding_norms": """
        WITH norms AS (
            SELECT label, vec_id,
                   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[]))) AS norm
            FROM embeddings
        )
        SELECT label, count(*) AS n_vectors,
               min(norm) AS min_norm, max(norm) AS max_norm
        FROM norms GROUP BY label
    """,
}


def _sem_cos_sql(a_vec: str, b_vec: str) -> str:
    """Hoisted-norm cosine between two DOUBLE[] SQL expressions — the
    exact float sequence assign_cells_fixed/two_level compute (dot /
    (sqrt(self-dot) * sqrt(self-dot)), vector side first)."""
    return (
        f"list_dot_product(CAST({a_vec} AS DOUBLE[]),"
        f" CAST({b_vec} AS DOUBLE[]))"
        f" / (sqrt(list_dot_product(CAST({a_vec} AS DOUBLE[]),"
        f" CAST({a_vec} AS DOUBLE[])))"
        f" * sqrt(list_dot_product(CAST({b_vec} AS DOUBLE[]),"
        f" CAST({b_vec} AS DOUBLE[]))))"
    )


def _semdedup_oracle(cents_sql: str) -> str:
    """SemDeDup, step for step, over ANY cents CTE chain: nearest-1 cell
    (ties -> smaller centroid_id), block-capped within-cell cosine pairs
    above SEM_T, recursive min-label closure (pairs never cross cells, so
    neither do components), keep-one = argmin(centroid similarity, id) per
    component. The fixed gate passes the density-scaled id-subset cents;
    the trained gate passes the unrolled deterministic Lloyd fit — same
    dedup text either way."""
    return f"""
        WITH RECURSIVE {cents_sql},
        scored AS (
            SELECT e.vec_id, e.embedding, ct.centroid_id,
                   {_sem_cos_sql("e.embedding", "ct.cvec")} AS sim
            FROM embeddings e, cents ct
        ),
        cells0 AS (
            SELECT vec_id, embedding, centroid_id AS cell, sim AS csim FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                          ORDER BY sim DESC, centroid_id) AS rk
                FROM scored
            ) WHERE rk = 1
        ),
        {_SEM_TAIL}
    """


def _semdedup_two_level_oracle(head_sql: str) -> str:
    """The hierarchical twin (operators/semdedup.assign_cells_two_level)
    over ANY ``head_sql`` CTE chain ending in ``fine`` and ``coarse``
    (centroid_id, cvec) CTEs with coarse a subset of fine (the
    no-empty-coarse-cell contract): fine centroids routed through a
    coarse argmax, vectors routed through the same coarse argmax, each
    vector then scored ONLY against its coarse cell's fine centroids —
    every tie resolved exactly as Spark's (sim, -id) struct-max
    (ORDER BY sim DESC, id). The fixed gate passes the density-scaled
    mod-subset head; the trained gate passes the unrolled deterministic
    Lloyd chain plus its fixed coarse id-subset — same routing and dedup
    text either way (the knn_pq fixed/trained template pattern)."""
    return f"""
        WITH RECURSIVE {head_sql},
        frouted AS (
            SELECT fid, fvec, coarse_id FROM (
                SELECT f.centroid_id AS fid, f.cvec AS fvec,
                       c.centroid_id AS coarse_id,
                       row_number() OVER (PARTITION BY f.centroid_id
                           ORDER BY {_sem_cos_sql("f.cvec", "c.cvec")} DESC,
                                    c.centroid_id) AS rk
                FROM fine f, coarse c
            ) WHERE rk = 1
        ),
        vrouted AS (
            SELECT vec_id, embedding, coarse_id FROM (
                SELECT e.vec_id, e.embedding, c.centroid_id AS coarse_id,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY {_sem_cos_sql("e.embedding", "c.cvec")}
                                    DESC, c.centroid_id) AS rk
                FROM embeddings e, coarse c
            ) WHERE rk <= {SEM_TL_PROBE}
        ),
        cells0 AS (
            SELECT vec_id, embedding, fid AS cell, sim AS csim FROM (
                SELECT v.vec_id, v.embedding, r.fid,
                       {_sem_cos_sql("v.embedding", "r.fvec")} AS sim,
                       row_number() OVER (PARTITION BY v.vec_id
                           ORDER BY {_sem_cos_sql("v.embedding", "r.fvec")}
                                    DESC, r.fid) AS rk
                FROM vrouted v JOIN frouted r ON v.coarse_id = r.coarse_id
            ) WHERE rk = 1
        ),
        {_SEM_TAIL}
    """


_SEM_TAIL = f"""-- oversized-cell re-split: rank within the cell by (csim DESC,
        -- vec_id), chunk into blocks of <= {SEM_CAP}; the pair join keys
        -- on (cell, blk) so candidate pairs are bounded by N*{SEM_CAP}/2
        cells AS (
            SELECT *, CAST(FLOOR((row_number() OVER (PARTITION BY cell
                          ORDER BY csim DESC, vec_id) - 1) / {SEM_CAP}.0)
                      AS BIGINT) AS blk
            FROM cells0
        ),
        jpairs AS (
            SELECT q.vec_id AS doc_a, c.vec_id AS doc_b
            FROM cells q JOIN cells c
              ON q.cell = c.cell AND q.blk = c.blk AND q.vec_id < c.vec_id
            WHERE {_COS} >= {SEM_T}
        ),
        edges AS (SELECT doc_a AS a, doc_b AS b FROM jpairs
                  UNION SELECT doc_b, doc_a FROM jpairs),
        gnodes AS (SELECT DISTINCT a AS n FROM edges),
        reach(n, m) AS (
            SELECT n, n FROM gnodes
            UNION
            SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a
        ),
        comp AS (SELECT n AS doc_id, min(m) AS component_id FROM reach GROUP BY n)
        SELECT c.component_id,
               first(cl.vec_id ORDER BY cl.csim, cl.vec_id) AS keep_id,
               count(*) AS n_members
        FROM comp c JOIN cells cl ON cl.vec_id = c.doc_id
        GROUP BY c.component_id
    """


_PQ_FIXED_CODEBOOK_SQL = f"""codebook AS (
            {" UNION ALL ".join(
                f"SELECT {mm} AS m, vec_id AS code_id,"
                f" CAST(embedding[{mm * 8 + 1}:{mm * 8 + 8}] AS DOUBLE[]) AS csub"
                f" FROM embeddings WHERE vec_id IN ({', '.join(map(str, PQ_CODE_IDS))})"
                for mm in range(8))}
        )"""


def _pq_trained_codebook_sql() -> str:
    """Per-subspace deterministic-Lloyd chains (metric='l2' — the same
    three-dot identity the encode argmin ranks by) ending in the codebook
    CTE the shared search template consumes."""
    from icenetetl_spark.operators.kmeans import lloyd_cents_cte

    ids = ", ".join(map(str, PQ_CODE_IDS))
    w = EMB_DIM // PQ_M
    chains = [
        lloyd_cents_cte(
            "embeddings",
            f"vec_id IN ({ids})",
            PQ_LLOYD_ITERS,
            w,
            metric="l2",
            prefix=f"pq{mi}",
            vec_expr=f"embedding[{mi * w + 1}:{(mi + 1) * w}]",
        )
        for mi in range(PQ_M)
    ]
    union = " UNION ALL ".join(
        f"SELECT {mi} AS m, CAST(centroid_id AS INTEGER) AS code_id,"
        f" cvec AS csub FROM pq{mi}_fit"
        for mi in range(PQ_M)
    )
    return ",".join(chains) + f", codebook AS ({union})"


# The dict literal bound the knn_pq slot to the SEARCH TEMPLATE (with a
# {codebook} placeholder); materialize both gates from it so the fixed and
# trained oracles share one search text and cannot drift.
ORACLES["knn_pq"] = _pq_search_template.format(
    codebook=_PQ_FIXED_CODEBOOK_SQL
)
ORACLES["knn_pq_trained"] = _pq_search_template.format(
    codebook=_pq_trained_codebook_sql()
)

ORACLES["dedup_semantic"] = _semdedup_oracle(
    """cents AS (
            SELECT vec_id AS centroid_id, embedding AS cvec
            FROM embeddings
            WHERE vec_id % GREATEST(2, CAST(CEIL(2.0 * SQRT(
                      (SELECT COUNT(*) FROM embeddings))) AS BIGINT)) = 0
        )"""
)
# trained two-level head: the unrolled Lloyd chain ends in a ``cents``
# CTE; fine = all trained centroids, coarse = the fixed id-subset of the
# SAME trained rows (coarse c fine — the no-empty-coarse-cell contract)
ORACLES["dedup_semantic_trained"] = _semdedup_two_level_oracle(
    _lloyd_cents_sql(LLOYD_ITERS)
    + f""",
        fine AS (SELECT centroid_id, cvec FROM cents),
        coarse AS (
            SELECT centroid_id, cvec FROM cents
            WHERE centroid_id IN ({", ".join(map(str, SEM_TL_TRAINED_COARSE_IDS))})
        )"""
)
ORACLES["dedup_semantic_two_level"] = _semdedup_two_level_oracle(
    """params AS (
            SELECT GREATEST(2, CAST(CEIL(2.0 * SQRT(n)) AS BIGINT)) AS mod2,
                   GREATEST(2, CAST(CEIL(SQRT(SQRT(n))) AS BIGINT)) AS m
            FROM (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings)
        ),
        fine AS (
            SELECT vec_id AS centroid_id, embedding AS cvec
            FROM embeddings, params WHERE vec_id % mod2 = 0
        ),
        coarse AS (
            SELECT vec_id AS centroid_id, embedding AS cvec
            FROM embeddings, params WHERE vec_id % (mod2 * m) = 0
        )"""
)


# ---------------------------------------------------------------------------
# ANN recall scorecard: every fixed-plan approximate method evaluated
# against brute force in ONE gated query — the index-quality report a
# vector-search deployment watches. Composed from the SAME query functions
# and oracle texts as the individual gates, so the scorecard can never
# drift from what it scores.

_RECALL_METHODS = (
    "knn_sign_lsh",
    "knn_sign_lsh_multiprobe",
    "knn_hyperplane_lsh",
    "knn_ivf_fixed",
    "knn_pq",
    "knn_ivfpq_fixed",
    "knn_int8_topk",
)


def _method_query(m):
    if m in QUERIES:
        return QUERIES[m]
    from icenetetl_spark.queries import quantized

    return quantized.QUERIES[m]


def _method_oracle(m):
    if m in ORACLES:
        return ORACLES[m]
    from icenetetl_spark.queries import quantized

    return quantized.ORACLES[m]


def knn_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(method, n_queries, n_matched, recall): recall@K of each fixed-plan
    ANN method vs exact brute force. recall = matched-pairs / (K *
    n_queries) — integer counts with one final division, so the value is
    bit-identical across engines with no quantization needed."""
    # cache: the O(N^2) exact baseline is referenced by every method's
    # union branch — uncached, Spark would re-run the self-join per branch
    bf = (
        knn_bruteforce(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .cache()
    )
    nq = F.lit(N_QUERIES)
    parts = []
    for m in _RECALL_METHODS:
        approx = _method_query(m)(spark, sf_dir).select(
            "query_id", "neighbor_id"
        )
        matched = bf.join(approx, ["query_id", "neighbor_id"]).agg(
            F.count(F.lit(1)).alias("n_matched")
        )
        parts.append(
            matched.select(
                F.lit(m).alias("method"),
                nq.alias("n_queries"),
                "n_matched",
                (
                    F.col("n_matched").cast("double")
                    / F.lit(float(K * N_QUERIES))
                ).alias("recall"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


QUERIES["knn_recall_report"] = knn_recall_report

ORACLES["knn_recall_report"] = "\nUNION ALL\n".join(
    f"""
    SELECT '{m}' AS method,
           CAST({N_QUERIES} AS INTEGER) AS n_queries,
           CAST(count(*) AS BIGINT) AS n_matched,
           CAST(count(*) AS DOUBLE) / {float(K * N_QUERIES)} AS recall
    FROM ({ORACLES["knn_bruteforce"]}) bf
    JOIN ({_method_oracle(m)}) ap USING (query_id, neighbor_id)
    """
    for m in _RECALL_METHODS
)


# ---------------------------------------------------------------------------
# MMR diverse selection: the oracle unrolls the SAME k greedy steps as the
# driver loop (the graph_pagerank unrolled-CTE pattern) — each step is an
# ORDER BY (score DESC, vec_id) LIMIT 1 over the remaining candidates.

MMR_K = 5
MMR_LAM = 0.7


def doc_mmr_diverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware top-k over embeddings (operators/similarity.
    mmr_select): relevance to query vector 0, penalized by similarity to
    already-selected picks — plain top-k's near-duplicate problem solved
    the MMR way. Hash-gated via the unrolled-CTE oracle."""
    from icenetetl_spark.operators.similarity import mmr_select

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = list(
        emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    )
    return mmr_select(
        emb.filter(F.col("vec_id") > 0), qvec, k=MMR_K, lam=MMR_LAM,
        dim=EMB_DIM,
    )


def _sql_cos(a: str, b: str) -> str:
    return (
        f"(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
        f" / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]),"
        f" CAST({a} AS DOUBLE[])))"
        f" * sqrt(list_dot_product(CAST({b} AS DOUBLE[]),"
        f" CAST({b} AS DOUBLE[])))))"
    )


def _mmr_oracle(k: int = MMR_K, lam: float = MMR_LAM) -> str:
    d = f"CAST({lam} AS DOUBLE)"
    one_minus = f"(CAST(1.0 AS DOUBLE) - {d})"
    ctes = [
        f"""scored AS (
            SELECT c.vec_id, c.embedding,
                   {_sql_cos("c.embedding", "q.embedding")} AS rel
            FROM embeddings c,
                 (SELECT embedding FROM embeddings WHERE vec_id = 0) q
            WHERE c.vec_id > 0
        )""",
        """s1 AS (
            SELECT vec_id, embedding, rel, rel AS score
            FROM scored ORDER BY rel DESC, vec_id LIMIT 1
        )""",
    ]
    for i in range(2, k + 1):
        prev = [f"s{j}" for j in range(1, i)]
        froms = ", ".join(["scored c"] + prev)
        notin = " AND ".join(f"c.vec_id <> {p}.vec_id" for p in prev)
        sims = [_sql_cos("c.embedding", f"{p}.embedding") for p in prev]
        maxsim = sims[0] if len(sims) == 1 else f"GREATEST({', '.join(sims)})"
        ctes.append(
            f"""s{i} AS (
            SELECT c.vec_id, c.embedding, c.rel,
                   {d} * c.rel - {one_minus} * {maxsim} AS score
            FROM {froms}
            WHERE {notin}
            ORDER BY score DESC, c.vec_id LIMIT 1
        )"""
        )
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS INTEGER) AS rank, vec_id, rel AS relevance,"
        f" score AS mmr_score FROM s{i}"
        for i in range(1, k + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + selects


QUERIES["doc_mmr_diverse"] = doc_mmr_diverse
ORACLES["doc_mmr_diverse"] = _mmr_oracle()


def knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search (the vector-DB capability plain ANN lacks):
    top-k restricted to corpus vectors sharing the query's label — the
    metadata predicate applies BEFORE scoring, so the scan cost is the
    filtered subset, not the corpus. Composition: label equi-constraint
    into the same brute-force scorer; at scale the same filter composes
    with the IVF/PQ candidate generators unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qv"),
    )
    cand = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("clabel"),
        F.col("embedding").alias("cv"),
    )
    scored = queries.join(
        cand,
        (F.col("qlabel") == F.col("clabel"))
        & (F.col("query_id") != F.col("neighbor_id")),
    ).select(
        "query_id",
        "neighbor_id",
        S.cosine("qv", "cv").alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


QUERIES["knn_filtered"] = knn_filtered

ORACLES["knn_filtered"] = f"""
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos
    FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_COS} AS cos,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_COS} DESC, c.vec_id) AS rank
        FROM embeddings q JOIN embeddings c
          ON q.label = c.label AND q.vec_id <> c.vec_id
        WHERE q.vec_id < {N_QUERIES}
    )
    WHERE rank <= {K}
"""


# Hybrid retrieval: reciprocal-rank fusion of the BM25 text arm and a
# single-query vector arm (Cormack, Clarke & Buettcher SIGIR'09: RRF
# outperforms per-system score normalization and needs only RANKS, which
# makes the fusion arithmetic engine-exact). Constants shared with the
# oracle below.
RRF_K = 60  # the paper's smoothing constant
HYBRID_QUERY_VEC = 7  # the vector arm's query embedding
HYBRID_VEC_TOPK = 20  # vector arm truncation (same depth as BM25_TOPK)
HYBRID_TOPK = 10


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search over the corpus id space: the gated BM25 plan ranks
    the text arm, one broadcast query vector ranks the cosine arm (top-k
    truncated like the text arm), and RRF fuses them on id with a
    full-outer join of two k-row lists — a doc missing from one arm simply
    contributes nothing there, so the fusion never forces either arm to
    cover the whole corpus. Everything after the two arms is k-row-sized:
    at 100 TB the cost IS the arms (each already scale-shaped and
    individually gated); fusion is metadata work. Ranks are ints, so the
    RRF sum is two IEEE-exact divisions added in a fixed order — the
    DuckDB oracle reproduces it bit-for-bit."""
    from icenetetl_spark.queries.text import text_bm25_topk

    text_arm = text_bm25_topk(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("text_rank")
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == HYBRID_QUERY_VEC).select(
        F.col("embedding").alias("qv")
    )
    scored = (
        emb.filter(F.col("vec_id") != HYBRID_QUERY_VEC)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            S.cosine("embedding", "qv").alias("cos"),
        )
    )
    # distributed top-k (TakeOrderedAndProject), then rank over k rows
    vec_topk = scored.orderBy(F.col("cos").desc(), F.col("doc_id")).limit(
        HYBRID_VEC_TOPK
    )
    wv = Window.orderBy(F.col("cos").desc(), F.col("doc_id"))
    vec_arm = vec_topk.select(
        "doc_id", F.row_number().over(wv).cast("int").alias("vec_rank")
    )

    fused = text_arm.join(vec_arm, "doc_id", "full_outer")
    text_term = F.when(
        F.col("text_rank").isNotNull(),
        F.lit(1.0) / (F.lit(RRF_K) + F.col("text_rank")),
    ).otherwise(F.lit(0.0))
    vec_term = F.when(
        F.col("vec_rank").isNotNull(),
        F.lit(1.0) / (F.lit(RRF_K) + F.col("vec_rank")),
    ).otherwise(F.lit(0.0))
    ranked = fused.withColumn("rrf_score", text_term + vec_term)
    top = ranked.orderBy(
        F.col("rrf_score").desc(), F.col("doc_id")
    ).limit(HYBRID_TOPK)
    w = Window.orderBy(F.col("rrf_score").desc(), F.col("doc_id"))
    return top.select(
        "doc_id",
        F.row_number().over(w).cast("int").alias("hybrid_rank"),
        "rrf_score",
        "text_rank",
        "vec_rank",
    )


QUERIES["hybrid_search_rrf"] = hybrid_search_rrf


def _hybrid_oracle() -> str:
    from icenetetl_spark.queries.text import ORACLES as _TEXT_ORACLES

    return f"""
    WITH text_arm AS (
        SELECT doc_id, rank AS text_rank
        FROM ({_TEXT_ORACLES["text_bm25_topk"]})
    ), vec_scored AS (
        SELECT c.vec_id AS doc_id, {_COS} AS cos
        FROM embeddings c JOIN embeddings q
          ON q.vec_id = {HYBRID_QUERY_VEC} AND c.vec_id <> q.vec_id
    ), vec_arm AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
                    AS INTEGER) AS vec_rank
        FROM (SELECT * FROM vec_scored
              ORDER BY cos DESC, doc_id LIMIT {HYBRID_VEC_TOPK})
    ), fused AS (
        SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id,
               t.text_rank, v.vec_rank,
               (CASE WHEN t.text_rank IS NULL THEN CAST(0 AS DOUBLE)
                     ELSE CAST(1 AS DOUBLE) / ({RRF_K} + t.text_rank) END
                + CASE WHEN v.vec_rank IS NULL THEN CAST(0 AS DOUBLE)
                       ELSE CAST(1 AS DOUBLE) / ({RRF_K} + v.vec_rank) END)
                   AS rrf_score
        FROM text_arm t FULL OUTER JOIN vec_arm v ON t.doc_id = v.doc_id
    )
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id)
                AS INTEGER) AS hybrid_rank,
           rrf_score, text_rank, vec_rank
    FROM fused
    ORDER BY rrf_score DESC, doc_id LIMIT {HYBRID_TOPK}
    """


ORACLES["hybrid_search_rrf"] = _hybrid_oracle()
