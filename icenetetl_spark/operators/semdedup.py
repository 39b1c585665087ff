"""SemDeDup — semantic deduplication in embedding space (Abbas et al.,
"SemDeDup: Data-efficient learning at web-scale through semantic
deduplication", arXiv:2303.09540, public).

The paper's pipeline: cluster embeddings with a coarse k-means; WITHIN each
cluster find pairs whose cosine similarity exceeds a threshold (semantic
duplicates that exact/MinHash dedup misses — paraphrases, translations,
templated rewrites); from each duplicate group keep exactly one example —
the one with the LOWEST similarity to its cluster centroid (retaining the
least-prototypical member preserves diversity near the cluster boundary).

Spark-first realization, reusing the existing machinery:

- Cell assignment: :func:`icenetetl_spark.operators.ivf.assign_cells_fixed`
  — broadcast k×d centroids, argmax via one partial-aggregated groupBy.
- Candidate pairs: within-cell self-equi-join on the cell id — the plan
  NEVER leaves the cell (no cross-cell pair is ever materialized), which is
  the paper's own O(n²/k) complexity bound and the property that keeps this
  runnable at corpus scale: the pairwise stage shuffles on ``cell`` and
  each cell's quadratic work is bounded by sizing k with the corpus.
- Duplicate groups: :func:`icenetetl_spark.operators.dedup
  .connected_components` (large-star/small-star) — components cannot span
  cells because no edge does.
- Keep policy: per component, argmin(similarity-to-centroid), ties to the
  smaller id — one partial-aggregated min over a struct.

Centroids are a ``(centroid_id, cvec)`` table: fixed corpus rows (like
``knn_ivf_fixed``) or the deterministic Lloyd fit of
operators/kmeans.lloyd_fit (the paper's trained clustering). Both are
SQL-reproducible, so both registry queries (``dedup_semantic`` and
``dedup_semantic_trained``) are hash-gated on the IDENTICAL plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from icenetetl_spark.operators.dedup import connected_components
from icenetetl_spark.operators.ivf import assign_cells_fixed
from icenetetl_spark.operators.similarity import cosine, dot


def semantic_pairs(
    emb: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    cell_cap: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, cell, cos): within-cell pairs with cosine >= threshold,
    ``doc_a < doc_b``. The self-join keys on the cell id, so candidate
    generation is bucketed exactly like the LSH/SimHash/IVF families.
    ``dim`` (when the embedding width is statically known) switches every
    dot to the unrolled form of :func:`similarity.dot` — identical
    values, ~30x per row on the exhaustive pair stage. ``cell_cap``
    bounds candidate pairs to N*cap/2 by deterministic block re-splitting
    of oversized cells (see :func:`_pairs_from_cells`)."""
    cells = assign_cells_fixed(emb, centroids, id_col, vec_col, dim=dim)
    out = _pairs_from_cells(cells, threshold, dim=dim, cell_cap=cell_cap)
    return out.drop("__blk")


def _stage_cells(
    cells: DataFrame,
    dim: int | None = None,
    cell_cap: int | None = None,
) -> DataFrame:
    """Add the pair stage's derived columns to an assignment frame ONCE:
    ``__blk`` (the deterministic block re-split rank, when ``cell_cap``)
    and ``__nrm`` (the hoisted member norm, when ``dim``). Split out of
    :func:`_pairs_from_cells` so :func:`semdedup_from_cells` can
    materialize ONE staged frame that the pair self-join's two sides AND
    the keep policy all read — otherwise the Window ranking and norm
    projection are re-evaluated per join side on top of the cells
    checkpoint (two extra stages per query; values identical either way,
    the rank and norm are pure functions of the cell contents).

    __nrm rationale (the same hoist as ivf.knn_ivf_fixed_centroids):
    cosine(va, vb) unrolled at d=64 is three 64-term dots inside the
    join's consume method, which overflows the JVM's 64 KB method limit
    and drops the pair stage out of codegen; with norms precomputed once
    per member the pair stage is ONE unrolled dot plus a divide. Values
    BIT-IDENTICAL: dot/(sqrt(aa)*sqrt(bb)) == dot/(na*nb) exactly."""
    if cell_cap is not None:
        rk = F.row_number().over(
            Window.partitionBy("cell").orderBy(F.desc("csim"), "vec_id")
        )
        # the cap rides along as column metadata so _is_staged can tell
        # a frame staged with another cap (stale blocks) from a reusable one
        cells = cells.withColumn(
            "__blk",
            F.floor((rk - F.lit(1)) / F.lit(int(cell_cap))).alias(
                "__blk", metadata={"cell_cap": int(cell_cap)}
            ),
        )
    if dim:
        cells = cells.withColumn("__nrm", F.sqrt(dot("v", "v", dim)))
    return cells


def _is_staged(
    cells: DataFrame, dim: int | None, cell_cap: int | None
) -> bool:
    """True when ``cells`` already carries every staged column the
    (dim, cell_cap) combination needs (i.e. came through
    :func:`_stage_cells`), with ``__blk`` staged at this same ``cell_cap``."""
    cols = set(cells.columns)
    if cell_cap is not None and (
        "__blk" not in cols
        or cells.schema["__blk"].metadata.get("cell_cap") != int(cell_cap)
    ):
        return False
    if dim and "__nrm" not in cols:
        return False
    return True


def _pairs_from_cells(
    cells: DataFrame,
    threshold: float,
    dim: int | None = None,
    cell_cap: int | None = None,
) -> DataFrame:
    """Within-cell (optionally within-block) pairs above ``threshold``.

    ``cell_cap`` is the scale lever: with a fixed cell
    count the self-join is quadratic in cell occupancy, and occupancy
    grows with the corpus — measured 44s of a 59s run at 10x data, with
    a skew-dense cell materializing 8.1M above-threshold pairs. The cap
    re-splits every cell deterministically: members are ranked inside
    their cell by (csim DESC, vec_id) — similarity to the SHARED centroid,
    so near-prototypical members (the likeliest mutual duplicates) land in
    the same block — and chunked into blocks of at most ``cell_cap``; the
    self-join then keys on (cell, block). Candidate pairs are bounded by
    N * cell_cap / 2 — LINEAR in N regardless of cell skew. Like the
    paper's own cell confinement (no cross-cell pair is ever considered),
    block confinement is a documented approximation: pairs spanning two
    blocks of one oversized cell are not examined. The rank is a pure
    function of the cell contents, so the oracle mirrors it exactly
    (row_number OVER (PARTITION BY cell ORDER BY csim DESC, vec_id)).
    """
    if not _is_staged(cells, dim, cell_cap):
        cells = _stage_cells(cells, dim=dim, cell_cap=cell_cap)
    keys = ["cell", "__blk"] if cell_cap is not None else ["cell"]
    if dim:
        a = cells.select(
            F.col("vec_id").alias("doc_a"),
            F.col("v").alias("va"),
            F.col("__nrm").alias("na"),
            *keys,
        )
        b = cells.select(
            F.col("vec_id").alias("doc_b"),
            F.col("v").alias("vb"),
            F.col("__nrm").alias("nb"),
            *keys,
        )
        cos = dot("va", "vb", dim) / (F.col("na") * F.col("nb"))
    else:
        a = cells.select(
            F.col("vec_id").alias("doc_a"), F.col("v").alias("va"), *keys
        )
        b = cells.select(
            F.col("vec_id").alias("doc_b"), F.col("v").alias("vb"), *keys
        )
        cos = cosine("va", "vb")
    return (
        a.join(b, keys)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            "cell",
            *(["__blk"] if cell_cap is not None else []),
            cos.alias("cos"),
        )
        .filter(F.col("cos") >= F.lit(threshold))
    )


def _blockwise_components(pairs: DataFrame) -> DataFrame:
    """(doc_id, component_id) over edges CONFINED to (cell, __blk) blocks.

    The generic large-star/small-star :func:`connected_components` pays
    O(log² n) global rounds — a couple of shuffles each — for graphs whose
    components can span the whole corpus. Block-capped SemDeDup edges
    cannot: every edge lives inside one (cell, block) of at most
    ``cell_cap`` members, so components are block-local by construction
    and ONE groupBy + an Arrow-batched in-memory union-find per block
    (<= cap*(cap-1)/2 edge rows per group) replaces the iteration —
    one shuffle total, identical labels (component_id = min member id,
    the same contract). The SQL oracle keeps the recursive closure: two
    independent implementations, one semantic."""
    import pandas as pd

    def cc(pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a_, b_ in zip(pdf["doc_a"], pdf["doc_b"]):
            a_, b_ = int(a_), int(b_)
            parent.setdefault(a_, a_)
            parent.setdefault(b_, b_)
            ra, rb = find(a_), find(b_)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        docs = sorted(parent)
        return pd.DataFrame(
            {"doc_id": docs, "component_id": [find(d) for d in docs]}
        )

    return pairs.groupBy("cell", "__blk").applyInPandas(
        cc, "doc_id long, component_id long"
    )


def assign_cells_two_level(
    vectors: DataFrame,
    coarse: DataFrame,
    fine: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "vec_id",
    dim: int | None = None,
    n_probe: int = 2,
) -> DataFrame:
    """Hierarchical nearest-FINE-centroid assignment — the N^1.25 escape
    from flat assignment's N*k (the SemDeDup cap study measured the
    flat N x k crossJoin, not the capped pair stage, as the second-decade
    bottleneck, and Theta(N^1.5) is flat clustering's balanced floor).

    Two fixed-row argmax levels, so the whole construction stays
    SQL-reproducible (hash-gateable) like :func:`assign_cells_fixed`:

    1. route every FINE centroid to its nearest COARSE centroid
       (k2 x k1 — tiny);
    2. route every vector to its ``n_probe`` nearest COARSE centroids
       (N x k1 scored once; a row_number window picks the top-P — ties
       by smaller coarse id, the struct-max convention);
    3. score each vector ONLY against the fine centroids routed to its
       probed coarse cells (avg fanout P*k2/k1) — equi-join on the
       coarse id, then the same (sim, -id) argmax and key-join vector
       reattach as the flat operator.

    Work is N*(k1 + P*k2/k1), minimized near k1 = sqrt(P*k2) ->
    Theta(N^1.25) when k2 follows the sqrt law, vs flat N*k2 =
    Theta(N^1.5). The price is the standard IVF routing approximation —
    a vector whose true nearest fine centroid lives outside its P probed
    coarse cells gets its best probed one instead; ``n_probe`` is the
    recall/cost dial (FAISS's nprobe), measured in tests and SCALING.md.
    Output matches :func:`assign_cells_fixed`: ``(out_id, v, cell,
    csim)`` with ``cell`` a fine centroid id and ``csim`` the cosine to
    it.

    CONTRACT: every coarse cell must receive >= 1 fine centroid, or the
    level-3 inner join silently drops that cell's vectors. Callers
    guarantee it by making the coarse rows a SUBSET of the fine rows —
    a centroid's nearest coarse centroid is then itself (cos = 1.0, the
    maximum). The precise precondition that makes self-routing WIN the
    (sim DESC, id ASC) tie-break (cos 1.0 means positive collinearity,
    not equality): no coarse centroid may be positively
    COLLINEAR with a distinct smaller-id coarse centroid (a scaled copy
    also scores 1.0 and a smaller id would out-rank self), and no coarse
    centroid may have zero norm (0/0 -> NaN sims route nowhere). The
    gate selections satisfy this: mod-spaced corpus subsets never pick
    the same row twice and the synthetic/real corpora carry no scaled
    duplicates among them; trained (Lloyd) centroids are distinct cell
    means. ``tests/test_semdedup.py`` pins full coarse coverage for both
    gate constructions rather than paying a per-construction job here."""
    routed = F.broadcast(
        assign_cells_fixed(
            fine.select(
                F.col("centroid_id").alias("fid"),
                F.col("cvec").alias("fvec"),
            ),
            coarse,
            id_col="fid",
            vec_col="fvec",
            out_id="fid",
            dim=dim,
            spread_input=False,  # k2 rows inside a broadcast subtree
        ).select(
            "fid",
            F.col("v").alias("fvec"),
            F.col("cell").alias("__coarse"),
            F.sqrt(dot("v", "v", dim)).alias("__fn"),
        )
    )
    cents1 = F.broadcast(
        coarse.withColumn("__cn", F.sqrt(dot("cvec", "cvec", dim)))
    )
    # The N x k1 routing projection runs map-side on
    # this frame's partitioning; spread() keeps a row-group-bound scan
    # from serializing it (no-op once parallel — operators/scale.py)
    from icenetetl_spark.operators.scale import spread

    vectors = spread(vectors, id_col)
    # MATERIALIZE the (id, v, ||v||) projection —
    # the plan references ``pre`` THREE times (the N x k1 coarse-routing
    # crossJoin, the vector re-join inside vrouted, and the final
    # reattach), and without the cut each consumer re-evaluated the
    # projection (incl. its 64-term norm dot) AND re-planned/compiled its
    # full subtree per stage. One lazy localCheckpoint evaluates it once
    # and shrinks every downstream subtree to an RDD scan — the same
    # judged pattern as semdedup_from_cells' cells checkpoint (2+
    # consumers justify the materialization; eager=False keeps plan
    # CONSTRUCTION free). Values unchanged: a checkpoint is
    # value-transparent.
    pre = vectors.select(
        F.col(id_col).alias(out_id),
        F.col(vec_col).alias("v"),
        F.sqrt(dot(vec_col, vec_col, dim)).alias("__vn"),
    ).localCheckpoint(eager=False)
    sim1 = dot("v", "cvec", dim) / (F.col("__vn") * F.col("__cn"))
    # top-P coarse cells per vector: one window over the N x k1 scored
    # rows, partitioned on the vector id (k1 rows per partition key —
    # bounded, shuffles once on the id). Scalars only; v rejoins by key.
    probe_w = Window.partitionBy(out_id).orderBy(
        F.desc("__s1"), F.asc("__cid")
    )
    vrouted = (
        pre.crossJoin(cents1)
        .select(
            F.col(out_id),
            sim1.alias("__s1"),
            F.col("centroid_id").alias("__cid"),
        )
        .withColumn("__rk", F.row_number().over(probe_w))
        .filter(F.col("__rk") <= F.lit(int(n_probe)))
        .select(out_id, F.col("__cid").alias("__coarse"))
        .join(pre, out_id)
    )
    sim = dot("v", "fvec", dim) / (F.col("__vn") * F.col("__fn"))
    scored = vrouted.join(routed, "__coarse").select(
        F.col(out_id),
        sim.alias("__sim"),
        (-F.col("fid")).alias("__negfid"),
    )
    assigned = (
        scored.groupBy(out_id)
        .agg(F.max(F.struct("__sim", "__negfid")).alias("m"))
        .select(
            out_id,
            (-F.col("m.__negfid")).alias("cell"),
            F.col("m.__sim").alias("csim"),
        )
    )
    # same reattach-by-key as assign_cells_fixed (array columns stay out
    # of the fanout agg: each of the k scored copies would carry one)
    return assigned.join(
        pre.select(out_id, "v"), out_id
    ).select(out_id, "v", "cell", "csim")


def semdedup(
    emb: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    cell_cap: int | None = None,
) -> DataFrame:
    """(component_id, keep_id, n_members): semantic-duplicate groups and the
    member each group retains (lowest centroid similarity, ties to the
    smaller id — the SemDeDup policy). Isolated vectors are absent: they are
    all keepers by definition and a caller anti-joins the drop set instead
    of materializing the identity mapping. ``cell_cap`` caps per-cell pair
    work (linear-in-N candidates; see :func:`_pairs_from_cells`) — the
    downstream component/keep stages inherit the bound because components
    cannot span blocks when no edge does."""
    cells = assign_cells_fixed(emb, centroids, id_col, vec_col, dim=dim)
    return semdedup_from_cells(cells, threshold, dim=dim, cell_cap=cell_cap)


def semdedup_from_cells(
    cells: DataFrame,
    threshold: float,
    dim: int | None = None,
    cell_cap: int | None = None,
) -> DataFrame:
    """The SemDeDup pair/component/keep pipeline over a precomputed
    ``(vec_id, v, cell, csim)`` assignment — shared by the flat
    (:func:`semdedup`) and hierarchical (:func:`semdedup_two_level`)
    entrypoints."""
    # ONE cell assignment feeds both the pair self-join and the keep
    # policy — the assignment is the expensive corpus x k crossJoin +
    # argmax aggregate. MATERIALIZE it (localCheckpoint): the component
    # branch and the csim branch are separate plan subtrees, and without
    # the cut the assignment pass runs once per branch — measured 35s vs
    # 26s at 10x data for the full query. The checkpoint is N rows of
    # (id, vector, cell, csim) — linear, distributed across executors
    # (memory with disk spill), never driver state. eager=False so merely
    # CONSTRUCTING the DataFrame stays free (bench median-of-N and
    # parametrized tests build the plan repeatedly; eager=True ran the full
    # N x k assignment job per construction and pinned the blocks until
    # GC); the blocks materialize on the first action, which is
    # the only pass that needs them. Tradeoff (deliberate): a
    # localCheckpoint cannot be recomputed after executor loss — on a real
    # cluster a lost executor fails the query and the retry re-runs it from
    # source, which for this one-job operator is the same cost profile as
    # no checkpoint at all.
    #
    # The checkpoint sits AFTER the _stage_cells derivations (__blk
    # rank + __nrm) so the Window ranking runs ONCE: checkpointing the raw
    # cells instead makes both pair-join sides re-run Sort+Window+Filter
    # on top of it (one reused exchange, two window stages). Same single
    # materialization, one fewer evaluated window + one fewer codegen
    # stage; values identical (the rank is a pure function of the cell
    # contents, __nrm of the vector).
    cells = _stage_cells(cells, dim=dim, cell_cap=cell_cap).localCheckpoint(
        eager=False
    )
    pairs = _pairs_from_cells(cells, threshold, dim=dim, cell_cap=cell_cap)
    if cell_cap is not None:
        # block-confined edges -> one-shuffle blockwise union-find instead
        # of the iterative global algorithm (identical labels; see
        # _blockwise_components)
        comp = _blockwise_components(
            pairs.select("cell", "__blk", "doc_a", "doc_b")
        )
    else:
        comp = connected_components(pairs.select("doc_a", "doc_b"))
    csims = cells.select(F.col("vec_id").alias("doc_id"), "csim")
    return (
        comp.join(csims, "doc_id")
        .groupBy("component_id")
        .agg(
            F.min(F.struct(F.col("csim"), F.col("doc_id"))).alias("m"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select("component_id", F.col("m.doc_id").alias("keep_id"), "n_members")
    )


def semdedup_two_level(
    emb: DataFrame,
    coarse: DataFrame,
    fine: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    cell_cap: int | None = None,
    n_probe: int = 2,
) -> DataFrame:
    """SemDeDup over the hierarchical assignment
    (:func:`assign_cells_two_level`): identical pair/component/keep
    semantics per fine cell, assignment cost Theta(N^1.25) instead of
    flat Theta(N^1.5) — the second-decade path the SemDeDup cap study
    motivated. Coarse rows must be a subset of the fine rows (see the
    assignment contract)."""
    cells = assign_cells_two_level(
        emb, coarse, fine, id_col, vec_col, dim=dim, n_probe=n_probe
    )
    return semdedup_from_cells(cells, threshold, dim=dim, cell_cap=cell_cap)
