"""Similarity-layer invariants: the approximate (bucketed) plans must be
subsets of the exact answers with measured recall, and the pigeonhole
SimHash join must reproduce the all-pairs answer exactly."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from icenetetl_spark.operators.dedup import simhash_near_pairs
from icenetetl_spark.operators.similarity import embedding_near_duplicates
from icenetetl_spark.sources.testdata import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


def test_near_dup_lsh_subset_and_recall(spark, emb):
    """The bucketed plan returns a subset of the exact all-pairs answer
    (precision 1.0 — the refine step applies the exact cosine), with
    recall high enough to be useful. Recall is deterministic here: fixed
    data, deterministic bucketing."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_duplicates(emb, 0.45, exact=True).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_duplicates(emb, 0.45, exact=False).collect()
    }
    assert lsh <= exact, "banded candidates must all be true near-dups"
    assert exact, "fixture must contain near-dup pairs for recall to mean anything"
    recall = len(lsh) / len(exact)
    # 12 bands x 4 bits on this fixture: measured 0.86 — fails if the
    # banding regresses (e.g. a band/substring bug collapses candidates).
    assert recall >= 0.5, f"recall {recall:.2f} collapsed"


def test_near_dup_more_bands_higher_recall(spark, emb):
    """More bands over the same bits = more OR-amplification: candidate set
    (and thus surviving pairs) is monotone non-decreasing in band count."""
    one_band = embedding_near_duplicates(
        emb, 0.45, num_bits=16, bands=1, exact=False
    ).count()
    four_bands = embedding_near_duplicates(
        emb, 0.45, num_bits=16, bands=4, exact=False
    ).count()
    assert four_bands >= one_band


def test_simhash_pigeonhole_equals_all_pairs(spark):
    """The segment-join plan is exhaustive for hamming <= max_hamming — it
    must produce EXACTLY the all-pairs filter answer, not a subset."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    from icenetetl_spark.operators.dedup import simhash

    sim = simhash(docs).cache()
    a, b = sim.alias("a"), sim.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    for max_h in (0, 2, 3):
        brute = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                ham.alias("hamming"),
            )
            .filter(F.col("hamming") <= max_h)
            .collect()
        }
        pigeon = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in simhash_near_pairs(sim, max_hamming=max_h).collect()
        }
        assert pigeon == brute, f"max_hamming={max_h}"
    sim.unpersist()


def test_simhash_pigeonhole_plan_has_no_theta_only_join(spark):
    """The physical plan must be an equi-join (SortMerge/ShuffledHash), not a
    BroadcastNestedLoop/cartesian driven only by doc_a < doc_b."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    from icenetetl_spark.operators.dedup import simhash

    plan = simhash_near_pairs(simhash(docs))._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_multiprobe_recall_dominates_single_bucket(spark, emb):
    """Multi-probe LSH must recover at least the single-bucket recall vs
    exact brute force (its candidate set is a strict superset), and all its
    emitted scores are exact cosines."""
    from icenetetl_spark.operators.similarity import (
        knn_bruteforce,
        knn_sign_lsh,
        knn_sign_lsh_multiprobe,
    )

    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_bruteforce(queries, emb, k=5).collect()
    }
    single = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_sign_lsh(queries, emb, k=5, num_bits=8).collect()
    }
    multi = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_sign_lsh_multiprobe(queries, emb, k=5, num_bits=8).collect()
    }
    r_single = len(single & exact) / len(exact)
    r_multi = len(multi & exact) / len(exact)
    # the structural claim is DOMINANCE (superset candidate generation);
    # absolute recall on random gaussian vectors is the known LSH worst case
    # (pairwise cosines concentrate near 0), so only a loose floor here
    assert r_multi >= r_single, (r_multi, r_single)
    assert r_multi > 0, "multi-probe found no true neighbors at all"


def test_hyperplane_lsh_exact_within_bucket(spark):
    """Projection-LSH results are exact cosines of true bucket-mates:
    every returned pair shares the full sign pattern against the normals,
    and its score matches the brute-force cosine."""
    from icenetetl_spark.operators.similarity import (
        knn_bruteforce,
        knn_hyperplane_lsh,
    )
    from pyspark.sql.window import Window

    full = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    normals = full.filter(F.col("vec_id").isin([11, 94, 177, 260, 343, 426])).select(
        F.row_number().over(Window.orderBy("vec_id")).alias("bit_idx"),
        F.col("embedding").alias("nvec"),
    )
    queries = full.filter(F.col("vec_id") < 10)
    approx = knn_hyperplane_lsh(queries, full, normals, k=5)
    rows = approx.collect()
    assert rows, "some bucket-mates must exist at 6 bits over 500 vectors"
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in knn_bruteforce(queries, full, k=500).collect()
    }
    for r in rows:
        assert abs(exact[(r["query_id"], r["neighbor_id"])] - r["cos"]) < 1e-12


def test_vector_mean_exact_on_decimal_half_boundary(spark):
    """Regression: 0.1494140625 (= 153/1024, an ordinary float32 value)
    times 1e9 is EXACTLY 149414062.5 — a decimal half-boundary where
    Spark's HALF_UP and DuckDB's HALF_EVEN decimal casts disagree (found
    as a real 1-ulp centroid divergence at sf0.1). The fixed-point
    accumulator must agree with DuckDB bit-for-bit on it."""
    import duckdb

    from icenetetl_spark.operators.similarity import vector_mean_long

    vals = [0.1494140625, 0.25, -0.1494140625, 0.1, 0.3]
    df = spark.createDataFrame(
        [("a", i, [float(v)]) for i, v in enumerate(vals)],
        "label string, vec_id int, embedding array<float>",
    )
    got = vector_mean_long(df, ["label"]).collect()[0]
    want = duckdb.sql(
        f"""
        SELECT CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1000000000.0 + 0.5)
                             AS BIGINT)) AS DOUBLE)
               / 1000000000.0 / count(*) AS mean
        FROM (SELECT unnest(CAST({vals!r} AS FLOAT[])) AS x)
        """
    ).fetchone()[0]
    assert got["mean"] == want, (got["mean"].hex(), want.hex())


def test_mmr_first_pick_is_max_relevance_and_set_is_diverse(spark):
    from icenetetl_spark.operators.similarity import knn_bruteforce, mmr_select
    from icenetetl_spark.sources.testdata import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    qvec = list(
        emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    )
    cand = emb.filter(F.col("vec_id") > 0)
    sel = mmr_select(cand, qvec, k=5, lam=0.7).collect()
    assert [r["rank"] for r in sel] == [1, 2, 3, 4, 5]
    # first pick equals the plain cosine argmax vs vec 0
    top1 = knn_bruteforce(
        emb.filter(F.col("vec_id") == 0), emb, k=1
    ).collect()[0]
    assert sel[0]["vec_id"] == top1["neighbor_id"]
    # mmr penalizes redundancy: ranks 2+ never beat rank 1's relevance
    assert all(r["relevance"] <= sel[0]["relevance"] + 1e-12 for r in sel)
    # deterministic rerun
    again = mmr_select(cand.repartition(7), qvec, k=5, lam=0.7).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in sel]


def test_mmr_lam_one_equals_plain_topk(spark):
    from icenetetl_spark.operators.similarity import knn_bruteforce, mmr_select
    from icenetetl_spark.sources.testdata import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    qvec = list(
        emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    )
    sel = mmr_select(emb.filter(F.col("vec_id") > 0), qvec, k=5, lam=1.0)
    got = [r["vec_id"] for r in sel.collect()]
    want = [
        r["neighbor_id"]
        for r in knn_bruteforce(
            emb.filter(F.col("vec_id") == 0), emb, k=5
        ).collect()
    ]
    assert got == want


def test_mmr_pool_smaller_than_k_returns_all(spark):
    """k larger than the candidate pool must return every candidate
    (ranks 1..n) instead of raising on the empty argmax collect."""
    from icenetetl_spark.operators.similarity import mmr_select
    from icenetetl_spark.sources.testdata import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    qvec = list(
        emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    )
    cand = emb.filter(F.col("vec_id").isin([1, 2, 3]))
    sel = mmr_select(cand, qvec, k=10, lam=0.7).collect()
    assert [r["rank"] for r in sel] == [1, 2, 3]
    assert {r["vec_id"] for r in sel} == {1, 2, 3}


def test_hybrid_rrf_fuses_both_arms(spark):
    """RRF sanity at sf0.001: ranks are 1..k contiguous; the fused score
    is exactly the sum of the two reciprocal terms recomputed in Python
    from the emitted ranks; and a doc present in only one arm still
    surfaces with the other rank NULL (full-outer semantics)."""
    from icenetetl_spark.queries.similarity import (
        HYBRID_TOPK,
        RRF_K,
        hybrid_search_rrf,
    )

    rows = hybrid_search_rrf(spark, SF_DIR).collect()
    assert 0 < len(rows) <= HYBRID_TOPK
    assert [r["hybrid_rank"] for r in rows] == list(range(1, len(rows) + 1))
    for r in rows:
        expect = 0.0
        if r["text_rank"] is not None:
            expect += 1.0 / (RRF_K + r["text_rank"])
        if r["vec_rank"] is not None:
            expect += 1.0 / (RRF_K + r["vec_rank"])
        assert r["rrf_score"] == expect
        assert r["text_rank"] is not None or r["vec_rank"] is not None
    # fused order is non-increasing in score with doc_id tiebreak
    scores = [(-r["rrf_score"], r["doc_id"]) for r in rows]
    assert scores == sorted(scores)


def test_dot_and_cosine_forms_match_duckdb_exactly(spark, emb):
    """Both forms of ``dot``/``cosine`` — the 64-term unrolled sum and the
    any-length fold — must return EXACTLY DuckDB's ``list_dot_product``
    doubles on 400 embedding pairs; the oracle hash gate relies on
    it. A column literally named ``a.b``, referenced as a backticked
    string, is one more input: the SQL text must resolve it to that
    column rather than split it into qualifier ``a`` and field ``b``."""
    import duckdb

    from icenetetl_spark.operators.similarity import cosine, dot

    head = emb.filter(F.col("vec_id") < 20)
    pairs = head.select(
        F.col("vec_id").alias("ida"),
        F.col("embedding").alias("va"),
        F.col("embedding").alias("a.b"),
    ).crossJoin(
        head.select(F.col("vec_id").alias("idb"), F.col("embedding").alias("vb"))
    )
    scores = [
        f(a, "vb", dim)
        for a in ("va", "`a.b`")
        for dim in (64, None)
        for f in (dot, cosine)
    ]
    got = {
        (r[0], r[1]): tuple(r[2:])
        for r in pairs.select("ida", "idb", *scores).collect()
    }
    a, b = "CAST(a.embedding AS DOUBLE[])", "CAST(b.embedding AS DOUBLE[])"
    rows = duckdb.connect().execute(
        f"""SELECT a.vec_id, b.vec_id, list_dot_product({a}, {b}),
                   list_dot_product({a}, {b})
                   / (sqrt(list_dot_product({a}, {a}))
                      * sqrt(list_dot_product({b}, {b})))
            FROM '{SF_DIR}/embeddings.parquet' a,
                 '{SF_DIR}/embeddings.parquet' b
            WHERE a.vec_id < 20 AND b.vec_id < 20"""
    ).fetchall()
    want = {(ia, ib): (d, c) * 4 for ia, ib, d, c in rows}
    assert len(got) == 400
    assert got == want


def _column_dot(x, y, dim):
    """The 64-term sum built with per-term Column operators: the reference
    the one-parse SQL text of ``dot(x, y, dim)`` must reproduce."""
    out = F.lit(0.0)
    for i in range(1, dim + 1):
        out = out + (
            F.element_at(x, i).cast("double") * F.element_at(y, i).cast("double")
        )
    return out


def _column_cosine(x, y, dim):
    return _column_dot(x, y, dim) / (
        F.sqrt(_column_dot(x, x, dim)) * F.sqrt(_column_dot(y, y, dim))
    )


def test_dot_unrolled_string_form_is_tree_identical(spark, emb):
    """The one F.expr parse of the unrolled ``dot``/``cosine`` (instead of
    ~2,500 py4j round-trips per 64-term dot) must be a pure
    construction-cost change: the analyzed plan and every value must equal
    the per-term Column-built sum exactly — anything else would shift the
    hash gate."""
    import re

    from icenetetl_spark.operators.similarity import cosine, dot

    def canon(df):
        # strip expression-id counters (#123) — the only legitimate delta
        return re.sub(
            r"#\d+", "#", df._jdf.queryExecution().analyzed().toString()
        )

    col_form = emb.select(
        _column_dot(F.col("embedding"), F.col("embedding"), 64).alias("d")
    )
    str_form = emb.select(dot("embedding", "embedding", 64).alias("d"))
    assert canon(col_form) == canon(str_form)
    assert [r["d"] for r in col_form.collect()] == [
        r["d"] for r in str_form.collect()
    ]

    a = emb.select(
        F.col("vec_id").alias("ida"), F.col("embedding").alias("va")
    )
    pairs = a.crossJoin(
        emb.select(F.col("vec_id").alias("idb"), F.col("embedding").alias("vb"))
    ).limit(500)
    cos_col = pairs.select(
        _column_cosine(F.col("va"), F.col("vb"), 64).alias("c")
    )
    cos_str = pairs.select(cosine("va", "vb", 64).alias("c"))
    assert canon(cos_col) == canon(cos_str)
    assert [r["c"] for r in cos_col.collect()] == [
        r["c"] for r in cos_str.collect()
    ]


def test_unrolled_string_form_accepts_backtick_quoted_names(spark, emb):
    """A column literally named ``a.b`` is referenced as a backticked
    string, as with ``F.col``; the SQL text must resolve it to that
    column rather than split it into qualifier ``a`` and field ``b`` —
    in the unrolled form and in the fold."""
    from icenetetl_spark.operators.similarity import cosine, dot

    df = emb.select(F.col("embedding").alias("a.b")).limit(50)
    ref = "`a.b`"
    want = df.select(
        _column_dot(F.col(ref), F.col(ref), 64).alias("d"),
        _column_cosine(F.col(ref), F.col(ref), 64).alias("c"),
    ).collect()
    for dim in (64, None):
        got = df.select(
            dot(ref, ref, dim).alias("d"),
            cosine(ref, ref, dim).alias("c"),
        ).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_topk_tie_order_and_short_groups(spark):
    """``topk`` on a hand-built frame: equal scores rank the smaller id
    first, ``ascending=True`` ranks smaller scores first (the ADC order),
    a key with fewer than k rows keeps all of them, and ranks run 1..n
    with no gaps."""
    from icenetetl_spark.operators.similarity import topk

    df = spark.createDataFrame(
        [
            (1, 5, 0.9),
            (1, 3, 0.9),
            (1, 7, 0.5),
            (1, 2, 0.1),
            (1, 8, 0.1),
            (2, 9, 0.3),
        ],
        "g int, id int, s double",
    )

    def ranked(**kw):
        out: dict[int, list[tuple[int, int]]] = {}
        for r in topk(df, "g", "s", "id", 3, **kw).collect():
            out.setdefault(r["g"], []).append((r["rank"], r["id"]))
        return {g: sorted(v) for g, v in out.items()}

    desc = ranked()
    assert desc == {1: [(1, 3), (2, 5), (3, 7)], 2: [(1, 9)]}
    asc = ranked(ascending=True)
    assert asc == {1: [(1, 2), (2, 8), (3, 7)], 2: [(1, 9)]}
    for got in (desc, asc):
        for rows in got.values():
            assert [rk for rk, _ in rows] == list(range(1, len(rows) + 1))
