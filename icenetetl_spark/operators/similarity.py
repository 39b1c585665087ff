"""Similarity search over an embedding column (``array<float>``).

- ``dot`` / ``cosine``  : the only double dot-product builders in the
                          package. Both take column-reference strings and
                          return ONE ``F.expr``; every vector score (ANN,
                          near-dup, SemDeDup, Lloyd, PQ) is built here.
- ``knn_bruteforce``    : exact top-k per query via query×corpus join +
                          per-query window. The baseline.
- ``knn_sign_lsh``      : LSH-bucketed approximate variant — random-hyperplane
                          family degenerated to axis sign bits (deterministic,
                          engine-portable); candidates restricted to the
                          query's bucket.

``dot`` has two forms, chosen by the caller's ``dim`` and nothing else:

- ``dim=None``: the any-length fold
  ``aggregate(zip_with(x, y, (u, v) -> u*v), 0.0D, (acc, z) -> acc + z)``.
  ``aggregate``/``zip_with`` are CodegenFallback (interpreted lambda
  dispatch per row, ~90us/row at d=64), but the expression stays small —
  it is the measured winner on 3-dot knn scoring (SCALING.md "Cosine
  dispatch").
- ``dim=d``: the same left-to-right sum unrolled into ``d`` flat terms,
  which stays inside whole-stage codegen. Use it where a stage computes
  ONE dot per row (norms hoisted out): three 64-term dots in one consume
  method overflow the JVM's 64 KB method limit and the stage runs
  interpreted anyway.

Both forms accumulate ``((0+x1y1)+x2y2)+...`` in double, so they are
bit-identical to each other and to DuckDB's ``list_dot_product``
(tests/test_similarity.py). Both are assembled as SQL text and parsed
JVM-side in one call: a per-term Column-operator build of the 64-term sum
cost ~2,500 py4j round-trips per dot (profiled: 6.7s of
dedup_semantic_two_level's 9.9s wall).

Scale notes (100 TB / 10^9+ vectors):
- Brute force is O(|Q|x|C|): fine for small query sets (the per-query window
  is partitioned by query id, so it distributes); for large Q use the LSH /
  IVF path: bucket both sides, shuffle once on bucket id, search within
  buckets (+ multi-probe for recall).
- The dot product is O(d) per pair with no Arrow hop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from icenetetl_spark.operators.scale import spread


def _qident(name: str) -> str:
    """Backtick-quote each dot-separated part of a column reference so the
    SQL text accepts any name ``F.col`` accepts (spaces, hyphens,
    reserved words). Dots keep their ``F.col`` meaning
    (qualifier / struct-field separators); embedded backticks escape by
    doubling, the standard Spark identifier rule. A reference already
    wrapped in backticks (``a.b`` quoted, for a column literally named
    ``a.b``) is valid SQL as it stands and passes through unchanged."""
    if len(name) > 1 and name.startswith("`") and name.endswith("`"):
        return name
    return ".".join(
        "`" + part.replace("`", "``") + "`" for part in name.split(".")
    )


def _dot_sql(x: str, y: str, dim: int | None = None) -> str:
    """SQL text of the double dot product (see the module note)."""
    xq, yq = _qident(x), _qident(y)
    if not dim:
        return (
            f"aggregate(zip_with({xq}, {yq}, (u, v) -> "
            "CAST(u AS DOUBLE) * CAST(v AS DOUBLE)), 0.0D, (acc, z) -> acc + z)"
        )
    terms = " + ".join(
        f"CAST(element_at({xq}, {i}) AS DOUBLE) * "
        f"CAST(element_at({yq}, {i}) AS DOUBLE)"
        for i in range(1, dim + 1)
    )
    return f"0.0D + {terms}"


def dot(x: str, y: str, dim: int | None = None) -> Column:
    """Double dot product of two array columns, named by reference strings
    (anything ``F.col`` resolves: ``"v"``, ``"a.vec"``, ``"`a.b`"``).
    ``dim`` (statically-known array width) selects the codegen-unrolled
    sum; without it, the any-length fold. Same values either way."""
    return F.expr(_dot_sql(x, y, dim))


def cosine(x: str, y: str, dim: int | None = None) -> Column:
    """Cosine similarity ``dot(x, y) / (sqrt(dot(x, x)) * sqrt(dot(y, y)))``
    as one expression, in the ``dim`` form of :func:`dot`."""
    return F.expr(
        f"({_dot_sql(x, y, dim)}) / "
        f"(SQRT({_dot_sql(x, x, dim)}) * SQRT({_dot_sql(y, y, dim)}))"
    )


def knn_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank, cos).

    Deterministic: ties broken by neighbor id. Self-matches excluded.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    # The per-pair cosine below runs map-side on the
    # corpus partitioning; spread() keeps a row-group-bound scan from
    # serializing it (no-op once parallel — operators/scale.py).
    c = spread(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    # Explicit broadcast of the query side: it is bounded BY CONSTRUCTION
    # (a query set, not a corpus), but it is usually a filtered subset of
    # a big table, so the static planner's size estimate balloons with the
    # data and the non-equi join degrades to CartesianProduct — observed
    # at the 100x spot check (SCALING.md) before this hint was pinned.
    scored = (
        F.broadcast(q).join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine("qv", "cv").alias("cos"),
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


def normalize_embeddings(
    df: DataFrame,
    id_alias: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    out_col: str = "nv",
) -> DataFrame:
    """Project ``v / ||v||`` once per row — the stored-normalized-column
    plan for cosine search: after this, every pair computes ONE dot
    instead of three (dot + two norms), cutting pair-stage work ~3x at
    any scale where pairs >> rows.

    The result is materialized (a lazy localCheckpoint). That is
    LOAD-BEARING, not an optimization nicety: without it Catalyst
    collapses this projection into the per-pair scoring projection
    downstream, recomputing the whole normalization per PAIR — measured
    3x slower than not normalizing at all (SCALING.md "Cosine dispatch"). On a real
    deployment the normalized column is written to the table once
    (amortized across queries); the checkpoint is the per-query stand-in
    with the same physical property (a concrete primitive array).

    fp-order contract: norm = sqrt of the left-to-right sequential dot
    (either :func:`dot` form, bit-identical), each element divided by it
    in double — mirrored in DuckDB as
    ``list_transform(dv, x -> x / sqrt(list_dot_product(dv, dv)))``.
    """
    v = F.col(vec_col)
    staged = df.withColumn(
        "__nrm", F.sqrt(dot(vec_col, vec_col, dim))
    )
    nv = F.array(
        *[
            F.element_at(v, i).cast("double") / F.col("__nrm")
            for i in range(1, dim + 1)
        ]
    )
    out = staged.select(F.col(id_col).alias(id_alias), nv.alias(out_col))
    return out.localCheckpoint(eager=False)


def knn_bruteforce_prenorm(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Exact cosine top-k with pre-normalized sides: same result contract
    as :func:`knn_bruteforce` (query_id, neighbor_id, rank, cos) but cos
    is computed as a single dot over ``v/||v||`` columns — 2.4x faster at
    1M pairs (A/B in SCALING.md), the right plan whenever the query set
    is large enough that pair work dominates the O(N·d) normalization.
    Note the cos values differ from knn_bruteforce in the last ulp
    (different fp grouping); the oracle mirrors this form exactly."""
    q = normalize_embeddings(queries, "query_id", id_col, vec_col, dim, "qv")
    # spread before normalize: the O(N·d) normalization materializes via
    # the localCheckpoint on the input partitioning, which a
    # row-group-bound scan would serialize
    c = normalize_embeddings(
        spread(corpus, id_col), "neighbor_id", id_col, vec_col, dim, "cv"
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            dot("qv", "cv").alias("cos"),
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


def sign_bucket(vec: Column, num_bits: int = 8) -> Column:
    """Deterministic LSH bucket id: sign bits of the first ``num_bits``
    coordinates ('0'/'1' string). A fixed axis-aligned instance of the
    random-hyperplane (SRP) family — portable to the SQL oracle; on a real
    deployment draw the hyperplanes from a seeded RNG and keep the same plan.
    """
    bits = [
        F.when(vec.getItem(i) > 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(num_bits)
    ]
    return F.concat(*bits)


def knn_sign_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    num_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's sign-LSH bucket,
    then exact cosine rank within bucket. One equi-join shuffle on bucket id
    instead of a full cross join — the 100 TB-shaped plan.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        sign_bucket(F.col(vec_col), num_bits).alias("bucket"),
    )
    c = spread(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        sign_bucket(F.col(vec_col), num_bits).alias("bucket"),
    )
    # broadcast the bounded query side so the corpus is never shuffled
    # for the bucket equi-join (size-independent plan — see knn_bruteforce)
    scored = (
        F.broadcast(q).join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine("qv", "cv").alias("cos"),
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


def hyperplane_buckets(
    df: DataFrame,
    normals: DataFrame,
    id_alias: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, bucket) with bucket = the sign-bit string of the vector's
    dot products against the ``normals`` table (columns ``bit_idx``,
    ``nvec``) — TRUE random-hyperplane LSH (Charikar, STOC 2002), where
    ``sign_bucket`` is its axis-aligned degenerate. One broadcast join
    producing B rows per vector that collapse in the same task via
    partial collect (B is tiny; the exchange carries one string per
    vector)."""
    scored = df.crossJoin(F.broadcast(normals)).select(
        F.col(id_col).alias(id_alias),
        F.col(vec_col).alias("__v"),
        F.struct(
            F.col("bit_idx"),
            F.when(dot(vec_col, "nvec") > 0, F.lit("1"))
            .otherwise(F.lit("0"))
            .alias("bit"),
        ).alias("ib"),
    )
    return scored.groupBy(id_alias).agg(
        F.first("__v").alias("__v"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("ib")), lambda s: s["bit"]
            ),
            "",
        ).alias("bucket"),
    )


def knn_hyperplane_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    normals: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k with PROJECTION-based LSH buckets: candidates
    share the sign pattern across all hyperplanes in ``normals``, then
    exact cosine rank within the bucket. Same shuffle shape as
    knn_sign_lsh (one bucket equi-join); the hyperplanes here come from
    a table — fixed corpus rows for the oracle-gated query, seeded
    gaussian draws in production (identical plan either way)."""
    q = hyperplane_buckets(queries, normals, "query_id", id_col, vec_col)
    c = hyperplane_buckets(
        spread(corpus, id_col), normals, "neighbor_id", id_col, vec_col
    )
    scored = (
        F.broadcast(q.select("query_id", F.col("__v").alias("qv"), "bucket"))
        .join(
            c.select("neighbor_id", F.col("__v").alias("cv"), "bucket"),
            "bucket",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine("qv", "cv").alias("cos"),
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


def _bucket_with_flips(bucket: Column, num_bits: int) -> Column:
    """The bucket itself plus every 1-bit-flipped variant (num_bits + 1
    strings) — the classic multi-probe sequence for sign LSH (probe the
    buckets most likely to hold near neighbors: those differing in the one
    hyperplane the query sits closest to; flipping every bit is the
    exhaustive hamming-1 shell, deterministic and oracle-portable)."""
    variants = [bucket]
    for i in range(num_bits):
        ch = F.substring(bucket, i + 1, 1)
        flipped = F.when(ch == "1", F.lit("0")).otherwise(F.lit("1"))
        variants.append(
            F.concat(
                F.substring(bucket, 1, i),
                flipped,
                F.substring(bucket, i + 2, num_bits - i - 1),
            )
        )
    return F.array(*variants)


def knn_sign_lsh_multiprobe(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    num_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe variant of :func:`knn_sign_lsh`: each query searches its
    own bucket AND all hamming-1 neighbor buckets (num_bits + 1 probes),
    recovering most of the recall a single bucket loses while still doing
    ONE equi-join shuffle on bucket id — candidate volume grows by at most
    (num_bits + 1)x on the query side only, never all-pairs. Corpus vectors
    keep exactly one bucket, so a (query, neighbor) pair meets at most once
    (the probe list is distinct by construction) — no dedup stage needed.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(
            _bucket_with_flips(sign_bucket(F.col(vec_col), num_bits), num_bits)
        ).alias("bucket"),
    )
    c = spread(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        sign_bucket(F.col(vec_col), num_bits).alias("bucket"),
    )
    # broadcast the bounded query side so the corpus is never shuffled
    # for the bucket equi-join (size-independent plan — see knn_bruteforce)
    scored = (
        F.broadcast(q).join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine("qv", "cv").alias("cos"),
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


def vector_mean(
    df: DataFrame,
    group_cols: list[str],
    vec_col: str = "embedding",
    scale: int = 9,
) -> DataFrame:
    """Element-wise mean vector per group (cluster/class centroids — the
    aggregation behind IVF training, class prototypes, and drift monitors).

    Plan: posexplode to (group, pos, x) -> one hash aggregation on
    (group, pos) with a FIXED-POINT INTEGER accumulator -> per-group
    reassembly of the d positions via sort_array(collect_list) (d values
    per group — driver-safe). Two shuffles, both keyed and distributed;
    no vector ever passes through Python.

    The fixed-point accumulator (see :func:`vector_mean_long`) makes the
    cross-row sum order-independent AND engine-exact — including for
    coarse dyadic float32 inputs that sit exactly on decimal
    half-boundaries, where decimal casts' rounding modes diverge between
    engines.
    """
    per = vector_mean_long(df, group_cols, vec_col=vec_col, scale=scale)
    return per.groupBy(*group_cols).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "mean"))),
            lambda s: s["mean"],
        ).alias("centroid"),
        F.min("n_vectors").alias("n_vectors"),
    )


def vector_mean_long(
    df: DataFrame,
    group_cols: list[str],
    vec_col: str = "embedding",
    scale: int = 9,
) -> DataFrame:
    """The per-position stage of :func:`vector_mean` in long form:
    one row per (group, pos) with the element-wise mean and the group
    count. This IS the centroid — callers that need the array shape
    reassemble it (``vector_mean``); callers that hash/compare results
    keep the long form (scalar columns canonicalize, arrays don't).

    Accumulation is FIXED-POINT INTEGER, not decimal: each element is
    quantized with ``floor(x * 10^scale + 0.5)`` — plain IEEE double ops
    every engine performs identically — then summed as exact BIGINTs.
    A double->DECIMAL cast is NOT portable here: float32 inputs are
    coarse dyadic rationals (e.g. 0.1494140625 = 153/1024), and
    odd/2^(s2+1) values land EXACTLY on 10^-scale half-boundaries
    (10^9 carries only 2^9), where Spark's HALF_UP and DuckDB's
    HALF_EVEN disagree — observed as a real 1-ulp centroid divergence
    at sf0.1. Valid for |x| < 2^53 / 10^scale."""
    from icenetetl_spark.functions.portable import fsum_col

    ex = df.select(
        *group_cols, F.posexplode(F.col(vec_col)).alias("pos", "__x")
    )
    return ex.groupBy(*group_cols, "pos").agg(
        (fsum_col("__x", scale) / F.count(F.lit(1))).alias("mean"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


def embedding_near_duplicates(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_bits: int = 48,
    bands: int = 12,
    exact: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """Pairs with cosine >= threshold (id_a < id_b).

    ``exact=True`` (the DEFAULT): the all-pairs O(n²) form — exact answer,
    the small-data oracle twin and the recall baseline. Callers opt INTO the
    approximate scale plan with ``exact=False``; approximation is an explicit
    decision at the call site, never a silent default (a caller relying on
    exact semantics must not lose pairs because a default changed under it).
    Never the plan to run at 100 TB.

    ``exact=False``: BANDED sign-LSH — the sign bits of the first
    ``num_bits`` coordinates split into ``bands`` bands; candidates are
    pairs agreeing on ALL bits of ANY band (OR-amplification, the same
    banding construction as MinHash LSH), refined with the exact cosine.
    The plan is one explode + one hash-partitioned equi-join on
    (band_idx, band_sig) — linear shuffle, distributed, survives 100×.
    A single monolithic bucket would have per-pair collision p^num_bits
    (p = 1 - angle/pi per hyperplane) — near-zero recall at dedup
    thresholds; banding gives 1-(1-p^w)^bands. Approximate by design:
    cross-band misses are possible, and recall vs the exact answer is
    asserted in tests/test_similarity.py. The DuckDB oracle mirrors the
    identical bands, so the correctness gate is still an exact hash match.
    Production swap: seeded random hyperplanes instead of axis signs, wider
    bands — same plan shape.
    """
    # Norms are hoisted out of every pair stage below (as in ivf.py and
    # semdedup.py): cosine unrolled at d=64 inside a join's
    # consume method is three 64-term dots, which overflows the JVM's
    # 64 KB method limit — Spark logged "Code grows beyond 64 KB" on this
    # very query's banded join and ran the stage interpreted. With ||v||
    # precomputed once per row (map-side, linear), the pair stage is one
    # dot plus a divide and compiles. Bit-identical: same operands, same
    # accumulation order, sqrt factored out of the division.
    # Both the norm projections and the pair stage run
    # on this frame's partitioning; spread() keeps a row-group-bound scan
    # from serializing them (no-op once parallel — operators/scale.py).
    emb = spread(emb, id_col)
    if exact:
        a = emb.select(
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("va"),
            F.sqrt(dot(vec_col, vec_col, dim)).alias("na"),
        )
        b = emb.select(
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("vb"),
            F.sqrt(dot(vec_col, vec_col, dim)).alias("nb"),
        )
        return (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                (
                    dot("va", "vb", dim) / (F.col("na") * F.col("nb"))
                ).alias("cos"),
            )
            .filter(F.col("cos") >= threshold)
        )
    if num_bits % bands:
        raise ValueError(f"num_bits ({num_bits}) must be divisible by bands ({bands})")
    w = num_bits // bands
    # Each band signature is built from ITS OWN w-bit slice, not substring'd
    # out of one full num_bits signature: embedding the full concat-of-whens
    # in every struct compiles bands*num_bits CASE branches into the explode
    # stage (576 at 48/12), which blows janino's 64 KB method limit and drops
    # the whole stage out of codegen. Slicing keeps it at num_bits total.
    def _band_sig(i: int) -> Column:
        bits = [
            F.when(F.col(vec_col).getItem(i * w + j) > 0, F.lit("1")).otherwise(
                F.lit("0")
            )
            for j in range(w)
        ]
        return F.concat(*bits)

    band_structs = [
        F.struct(
            F.lit(i).alias("band_idx"),
            _band_sig(i).alias("band_sig"),
        )
        for i in range(bands)
    ]
    # Identical subplans on both sides of the self-join -> ReuseExchange
    # shares the exploded shuffle (same trick as lsh_candidate_pairs).
    banded = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        F.sqrt(dot(vec_col, vec_col, dim)).alias("nrm"),
        F.explode(F.array(*band_structs)).alias("b"),
    ).select("vid", "vec", "nrm", "b.band_idx", "b.band_sig")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            (
                dot("a.vec", "b.vec", dim) / (F.col("a.nrm") * F.col("b.nrm"))
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .distinct()
    )


def mmr_select(
    candidates: DataFrame,
    query_vec: list[float],
    k: int = 5,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein,
    SIGIR 1998, public): iteratively pick the candidate maximizing
    ``lam * relevance - (1 - lam) * max_sim_to_selected`` — the
    diversity-aware top-k a curation pipeline uses where plain top-k
    returns k near-duplicates. First pick is pure relevance (the
    standard convention).

    Driver state is O(k*d) (the selected vectors, like a trained
    quantizer's centroids); each of the k steps is ONE distributed job —
    a scan scoring every remaining candidate against the broadcast
    selected set, then a 1-row argmax collect with a deterministic
    (score desc, id) tie-break. All similarity arithmetic is the same
    sequential-fold cosine the brute-force path uses, so the result is
    engine-portable and the oracle can unroll the identical k steps.

    Returns (rank, id, relevance, mmr_score) for the k selections.

    Construction note: the reference vectors are
    PROJECTED as literal-array columns (``__q``, ``__s<j>``) and the
    cosines take column NAMES, riding the one-parse SQL text of
    :func:`dot`. Inlining the 64-literal array into every
    element_at term of a Column-built unrolled cosine re-embedded the
    array 64 times per dot (4,096 literal nodes) and cost 122k py4j
    round-trips / 27.6s of doc_mmr_diverse's 32.9s construction;
    projecting it keeps the same per-row evaluation (one CreateArray,
    same fold order — values identical) at ~130 calls per vector."""
    qlit = F.array(*[F.lit(float(v)) for v in query_vec])
    # Every step's scoring scan runs on this frame's
    # partitioning; spread() keeps a row-group-bound scan from
    # serializing all k steps (no-op once parallel — operators/scale.py).
    candidates = spread(candidates, id_col)
    scored = candidates.withColumn("__q", qlit).select(
        F.col(id_col),
        F.col(vec_col),
        cosine(vec_col, "__q", dim=dim).alias("rel"),
    )
    selected: list[tuple] = []  # (rank, id, rel, score, vector)
    for step in range(k):
        remaining = scored
        if selected:
            remaining = remaining.filter(
                ~F.col(id_col).isin([s[1] for s in selected])
            )
            for j, s in enumerate(selected):
                remaining = remaining.withColumn(
                    f"__s{j}", F.array(*[F.lit(float(v)) for v in s[4]])
                )
            sims = [
                cosine(vec_col, f"__s{j}", dim=dim)
                for j in range(len(selected))
            ]
            maxsim = sims[0] if len(sims) == 1 else F.greatest(*sims)
            score = F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * maxsim
        else:
            score = F.col("rel")
        rows = (
            remaining.select(id_col, vec_col, "rel", score.alias("score"))
            .orderBy(F.col("score").desc(), F.col(id_col))
            .limit(1)
            .collect()
        )
        if not rows:  # pool exhausted before k picks: return what we have
            break
        top = rows[0]
        selected.append(
            (step + 1, top[id_col], top["rel"], top["score"], list(top[vec_col]))
        )
    spark = candidates.sparkSession
    return spark.createDataFrame(
        [(r, i, rel, sc) for r, i, rel, sc, _ in selected],
        f"rank int, {id_col} long, relevance double, mmr_score double",
    )
