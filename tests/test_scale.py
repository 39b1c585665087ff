"""Scale-helper tests: salted join correctness, DF capping, and the
bucketed-join shuffle-elimination property (checked against the physical
plan, not just results)."""

from __future__ import annotations

from pyspark.sql import functions as F

from icenetetl_spark.operators.dedup import jaccard_pairs, word_shingles
from icenetetl_spark.operators.scale import (
    bloom_bitmap,
    bloom_bitmap_df,
    bloom_prefilter,
    bloom_semi_join,
    cap_document_frequency,
    salted_join,
    write_bucketed,
)


def test_salted_join_matches_plain_join(spark):
    # heavily skewed left side: 90% of rows share key 1
    left = spark.range(1000).select(
        F.when(F.col("id") < 900, 1).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.createDataFrame(
        [(1, "hot"), (950, "cold")], "k long, tag string"
    )
    plain = left.join(right, ["k"]).select("k", "v", "tag")
    salted = salted_join(left, right, ["k"], salt_buckets=8).select("k", "v", "tag")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_left_join(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    right = spark.createDataFrame([(1, "x")], "k long, t string")
    out = salted_join(left, right, ["k"], salt_buckets=4, how="left").collect()
    got = {(r["k"], r["t"]) for r in out}
    assert got == {(1, "x"), (2, None)}


def test_cap_document_frequency(spark):
    docs = spark.createDataFrame(
        [(i, "common words here unique%d token%d extra%d" % (i, i, i)) for i in range(5)],
        "doc_id long, text string",
    )
    sh = word_shingles(docs, n=2)
    capped = cap_document_frequency(sh, max_df=2)
    # 'common words' / 'words here' bigrams appear in all 5 docs -> dropped
    remaining = {r["shingle"] for r in capped.select("shingle").distinct().collect()}
    assert "common words" not in remaining and "words here" not in remaining
    # per-doc unique shingles survive
    assert any("unique0" in s for s in remaining)
    # capped postings still feed jaccard (no pairs left above threshold)
    assert jaccard_pairs(capped, threshold=0.9).count() == 0


def test_ngram_query_path_caps_hot_shingles(spark):
    """The REGISTERED n-gram dedup queries must apply the df cap: a
    boilerplate shingle shared by every doc would otherwise contribute
    O(n^2) candidate pairs. With the cap, candidate generation is driven
    only by genuinely shared (low-df) shingles."""
    from icenetetl_spark.queries.dedup import NGRAM_MAX_DF, _capped_shingles

    n = NGRAM_MAX_DF * 3  # boilerplate df = 3x over the cap
    docs = spark.createDataFrame(
        [(i, f"shared boilerplate header text unique{i} tail{i} body{i}")
         for i in range(n)],
        "doc_id long, text string",
    )
    uncapped = word_shingles(docs, n=3)
    # the boilerplate trigrams connect every pair: ~n^2/2 candidates
    hot = uncapped.groupBy("shingle").count().filter(
        F.col("count") > NGRAM_MAX_DF
    )
    assert hot.count() > 0, "fixture must actually contain hot shingles"
    capped = _capped_shingles(docs)
    assert capped.groupBy("shingle").count().filter(
        F.col("count") > NGRAM_MAX_DF
    ).count() == 0
    # with boilerplate removed, no doc pair shares a shingle at all
    assert jaccard_pairs(capped, threshold=0.0).count() == 0
    assert jaccard_pairs(uncapped, threshold=0.0).count() == n * (n - 1) / 2


def test_bucketed_join_has_no_shuffle(spark):
    a = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va")
    )
    b = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
    )
    write_bucketed(a, "bt_a", ["k"], num_buckets=8)
    write_bucketed(b, "bt_b", ["k"], num_buckets=8)
    # Disable auto-broadcast: at test scale Spark would rather broadcast
    # (and skip bucketed scans); the property under test is the large-table
    # regime where sort-merge join must run shuffle-free off the buckets.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bt_a").join(spark.table("bt_b"), "k")
        assert joined.count() == 10000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
        # the same join on raw (non-bucketed) frames DOES shuffle
        plan_raw = a.join(b, "k")._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" in plan_raw
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bloom_semi_join_matches_plain_semi_join(spark):
    probe = spark.range(5000).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    build = spark.range(5000).filter(F.col("id") % 97 == 0).select(F.col("id").alias("k"))
    plain = sorted(map(tuple, probe.join(build, "k", "left_semi").collect()))
    bloom = sorted(map(tuple, bloom_semi_join(probe, build, "k").collect()))
    assert bloom == plain and len(bloom) > 0


def test_bloom_prefilter_is_superset_and_selective(spark):
    """No false negatives ever (every true match survives the prefilter);
    and on a selective build side the bitmap must actually drop most probe
    rows — otherwise the operator saves no shuffle."""
    probe = spark.range(20000).select(F.col("id").alias("k"))
    build = spark.range(20000).filter(F.col("id") % 500 == 0).select(
        F.col("id").alias("k")
    )
    words = bloom_bitmap(build, "k")
    pre = {r["k"] for r in bloom_prefilter(probe, words, "k").collect()}
    true_keys = {r["k"] for r in build.collect()}
    assert true_keys <= pre
    # 40 true keys, 3 hashes into 2^16 bits: fp rate ~(120/65536)^3 — the
    # prefilter should pass barely more than the true matches
    assert len(pre) < 20000 * 0.01


def test_bloom_bitmap_driver_state_is_bounded(spark):
    """The collect is bounded by the bitmap, not the build cardinality:
    a build side far bigger than m_bits still yields exactly m_bits/64
    int64-range words (two's complement for bit 63)."""
    big_build = spark.range(300000).select(F.col("id").alias("k"))
    words = bloom_bitmap(big_build, "k", m_bits=1 << 10)
    assert len(words) == (1 << 10) // 64
    assert all(-(1 << 63) <= w < (1 << 63) for w in words)
    # 300k keys into 1024 bits saturates the filter: every bit set
    assert all(w == -1 for w in words)


def test_bloom_prefilter_runs_below_the_join_exchange(spark):
    """The point of the operator: the bit-test filter must sit on the
    probe's scan side of the join exchange — the bloom path adds NO
    shuffle exchanges over the plain semi join (only the single-row
    bitmap broadcast), and the list-form prefilter alone is entirely
    exchange-free."""
    probe = spark.range(10000).select(F.col("id").alias("k"))
    build = spark.range(10000).filter(F.col("id") % 100 == 0).select(
        F.col("id").alias("k")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain = probe.join(build, "k", "left_semi")
        bloom = bloom_semi_join(probe, build, "k")
        plan_plain = plain._jdf.queryExecution().executedPlan().toString()
        plan_bloom = bloom._jdf.queryExecution().executedPlan().toString()
        assert "getbit" in plan_bloom
        shuffles = lambda s: s.count("Exchange hashpartitioning")  # noqa: E731
        # the probe path adds NO shuffle: every extra exchange in the
        # bloom plan belongs to the bitmap construction subtree (the
        # explode->groupBy over the build side), whose rows are bounded
        # by m_bits/64
        bitmap = bloom_bitmap_df(build, "k")
        plan_bitmap = bitmap._jdf.queryExecution().executedPlan().toString()
        pre_plan_df = (
            bloom_prefilter(probe, bitmap, "k")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert shuffles(pre_plan_df) == shuffles(plan_bitmap)
        assert shuffles(plan_bloom) == shuffles(plan_plain) + shuffles(
            plan_bitmap
        )
        # the bitmap rides broadcasts, never a probe-side shuffle, and
        # survives disabled planner broadcasts because both broadcast
        # sides are explicitly pinned
        assert "BroadcastExchange" in plan_bloom
        assert "CartesianProduct" not in plan_bloom
        # the prefilter by itself (list form) is exchange-free: the bit
        # test is pure column arithmetic fused into the scan stage
        words = bloom_bitmap(build, "k")
        pre_plan = (
            bloom_prefilter(probe, words, "k")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "getbit" in pre_plan
        assert "Exchange" not in pre_plan, pre_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bloom_saturated_bitmap_still_exact(spark):
    """Regression: a build side far larger than the bitmap saturates every
    word to -1 — all-int32-fitting words made F.lit infer array<int> and
    getbit rejected positions >= 32 at runtime. The degenerate bitmap must
    evaluate cleanly and the exact join must still produce the plain
    result (the filter just prunes nothing)."""
    probe = spark.range(2000).select(F.col("id").alias("k"))
    build = spark.range(100000).select(F.col("id").alias("k"))
    out = bloom_semi_join(probe, build, "k", m_bits=1 << 10)
    assert out.count() == 2000
    # same degenerate shape, empty side: all-zero words, every probe row
    # must be bit-tested without error and dropped
    words = bloom_bitmap(spark.range(0).select(F.col("id").alias("k")), "k")
    assert bloom_prefilter(probe, words, "k").count() == 0


def test_bloom_auto_sizes_bitmap_from_build_side(spark):
    """m_bits=None must pick a bitmap the build side cannot saturate:
    selectivity survives a build side that would saturate the old fixed
    2^16 default."""
    probe = spark.range(200000).select(F.col("id").alias("k"))
    build = spark.range(200000).filter(F.col("id") % 3 == 0).select(
        F.col("id").alias("k")
    )  # ~66k keys: saturates 2^16, auto -> 2^21
    words = bloom_bitmap(build, "k", m_bits=1 << 21)
    pre = bloom_prefilter(probe, words, "k")
    n_pre = pre.count()
    assert 200000 / 3 <= n_pre < 200000 * 0.40
    assert sorted(
        r["k"] for r in bloom_semi_join(probe, build, "k").collect()
    ) == sorted(r["k"] for r in build.collect())


def test_bloom_cross_width_keys_never_false_negative(spark):
    """Regression: xxhash64 is input-TYPE-sensitive, so an INT build side
    probed by a BIGINT probe side hashed raw would set and test DIFFERENT
    bit positions — silent false negatives, the one failure mode the
    operator promises away. Keys are canonicalized to string before
    hashing, so cross-width equi-joins stay exact."""
    probe = spark.range(1000).select(F.col("id").alias("k"))  # bigint
    build = spark.range(1000).filter(F.col("id") % 7 == 0).select(
        F.col("id").cast("int").alias("k")  # int
    )
    got = sorted(r["k"] for r in bloom_semi_join(probe, build, "k").collect())
    assert got == list(range(0, 1000, 7))


def test_bloom_probe_with_bm_column_survives(spark):
    """The bitmap travels under a collision-proof internal name — a probe
    that already has a 'bm' column must neither break analysis nor lose
    its column."""
    probe = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("bm")
    )
    build = spark.range(100).filter(F.col("id") % 10 == 0).select(
        F.col("id").alias("k")
    )
    rows = bloom_semi_join(probe, build, "k").collect()
    assert sorted(r["k"] for r in rows) == list(range(0, 100, 10))
    assert all(r["bm"] == 2 * r["k"] for r in rows)


def test_bloom_empty_build_side_yields_empty_result(spark):
    probe = spark.range(100).select(F.col("id").alias("k"))
    build = spark.range(0).select(F.col("id").alias("k"))
    assert bloom_semi_join(probe, build, "k").count() == 0


def test_bloom_bitmap_rejects_bad_params(spark):
    import pytest

    build = spark.range(10).select(F.col("id").alias("k"))
    with pytest.raises(ValueError):
        bloom_bitmap(build, "k", m_bits=1000)  # not a power of two
    with pytest.raises(ValueError):
        bloom_bitmap(build, "k", k_hashes=0)


def test_catalog_compact(spark, tmp_path):
    """Many small appended files -> few target-sized files, same rows."""
    from pyspark.sql import functions as F

    from icenetetl_spark.catalog import ParquetCatalog

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    for i in range(10):  # 10 tiny appends ≙ 10 streaming micro-batches
        cat.append("t", spark.range(i * 100, (i + 1) * 100).select(
            F.col("id").alias("k")
        ).coalesce(3))
    import os

    before = sum(
        1 for _r, _d, fs in os.walk(cat.path("t")) for f in fs
        if f.endswith(".parquet")
    )
    rows_before = sorted(r["k"] for r in cat.read("t").collect())
    after = cat.compact("t")
    assert after < before and after >= 1
    assert sorted(r["k"] for r in cat.read("t").collect()) == rows_before


def test_cluster_by_produces_disjoint_file_ranges(spark, tmp_path):
    """After cluster_by, parquet footers carry disjoint min/max ranges on
    the clustering column — the data-skipping property itself."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from icenetetl_spark.catalog import ParquetCatalog

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    # shuffled values so unclustered files have overlapping ranges
    df = spark.range(20000).select(
        F.xxhash64("id").alias("noise"), F.col("id").alias("k")
    ).orderBy("noise").drop("noise")
    cat.overwrite("t", df.repartition(8))
    cat.cluster_by("t", ["k"], num_files=8)

    ranges = []
    for root, _d, files in os.walk(cat.path("t")):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(root, f))
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                col = md.row_group(rg).column(0)
                mins.append(col.statistics.min)
                maxs.append(col.statistics.max)
            if mins:
                ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) >= 2
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: {(lo1,hi1)} vs {(lo2,hi2)}"
    # rows preserved
    assert cat.read("t").count() == 20000


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE's runtime skew-join split — the automatic counterpart of
    salted_join — demonstrated end-to-end: a 95%-hot key join re-plans to
    SortMergeJoin(skew=true) with the hot partition split across tasks.
    Thresholds are lowered to trip on test-scale data (production keeps the
    defaults: 256MB/5x); forceOptimizeSkewedJoin because at this size the
    split's extra shuffle would otherwise be judged not worth it. All are
    runtime SQL confs — set on the shared session and restored."""
    confs = {
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(200000).select(
            F.when(F.col("id") < 190000, F.lit(7))
            .otherwise(F.col("id"))
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        right = spark.range(5000).select(
            F.col("id").alias("k"), F.lit("x").alias("t")
        )
        j = left.join(right, "k")
        assert len(j.collect()) == 190000  # hot key matches; ids >= 190000 miss
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_salted_join_rejects_unsound_join_types(spark):
    import pytest

    from icenetetl_spark.operators.scale import salted_join

    left = spark.createDataFrame([(1, "a")], "k long, v string")
    right = spark.createDataFrame([(1, "x")], "k long, t string")
    for how in ("right", "full", "left_anti"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(left, right, ["k"], how=how)


def test_zorder_clustering_skips_on_both_dimensions(spark, tmp_path):
    """Z-order (Morton) clustering: every output file covers a small
    rectangle of BOTH columns, so footer min/max stats skip files for
    filters on either dimension — unlike lexicographic clustering, which
    only narrows the leading column."""
    import os

    import pyarrow.parquet as pq

    from icenetetl_spark.catalog import ParquetCatalog

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    # two independent pseudo-uniform dimensions
    df = spark.range(20000).select(
        F.pmod(F.xxhash64("id"), F.lit(10000)).alias("a"),
        F.pmod(F.xxhash64((F.col("id") + 1).cast("string")), F.lit(10000)).alias("b"),
    )
    cat.overwrite("t", df.repartition(8))

    def per_file_spreads(col_idx):
        spreads = []
        for root, _d, files in os.walk(cat.path("t")):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                md = pq.read_metadata(os.path.join(root, f))
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(col_idx).statistics
                    mins.append(st.min)
                    maxs.append(st.max)
                if mins:
                    spreads.append((max(maxs) - min(mins)) / 10000.0)
        return spreads

    # lexicographic on (a, b): a narrows, b stays ~full-range per file
    cat.cluster_by("t", ["a", "b"], num_files=16)
    lex_a, lex_b = per_file_spreads(0), per_file_spreads(1)
    assert len(lex_a) >= 8
    assert sum(lex_a) / len(lex_a) < 0.3, "leading column must narrow"
    assert sum(lex_b) / len(lex_b) > 0.7, "trailing column cannot narrow"

    # z-order: BOTH dimensions narrow per file
    cat.cluster_by("t", ["a", "b"], num_files=16, zorder=True)
    z_a, z_b = per_file_spreads(0), per_file_spreads(1)
    assert len(z_a) >= 8
    assert sum(z_a) / len(z_a) < 0.6, f"a spread {sum(z_a)/len(z_a):.2f}"
    assert sum(z_b) / len(z_b) < 0.6, f"b spread {sum(z_b)/len(z_b):.2f}"
    # rows preserved
    assert cat.read("t").count() == 20000


def test_zorder_key_rejects_sign_unsafe_bits(spark):
    import pytest

    from icenetetl_spark.operators.scale import zorder_key

    df = spark.createDataFrame([(1.0, 2.0)], "a double, b double")
    with pytest.raises(ValueError, match=r"\[1, 31\]"):
        zorder_key(df, ["a", "b"], bits=32)


def test_zorder_key_empty_table_is_noop(spark):
    from pyspark.sql import functions as F

    from icenetetl_spark.operators.scale import zorder_key

    df = spark.createDataFrame([], "a double, b double")
    key = zorder_key(df, ["a", "b"])
    # constant key -> selecting it over the empty frame still works
    assert df.select(key.alias("z")).count() == 0
    # and on an all-null column with rows present
    df2 = spark.createDataFrame([(None, 1.0), (None, 2.0)], "a double, b double")
    out = df2.select(zorder_key(df2, ["a", "b"]).alias("z")).collect()
    assert [r["z"] for r in out] == [0, 0]


def test_lsh_band_bucket_cap_drops_only_hot_buckets(spark):
    """max_bucket (the hot-band-bucket skew lever): capped candidates are
    a subset of the uncapped ones; pairs whose every shared band bucket
    is over the cap disappear, pairs sharing any small bucket survive."""
    from pyspark.sql import functions as F

    from icenetetl_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles,
    )

    # 6 boilerplate clones (one mega band bucket) + 2 distinct near-dups
    rows = [(i, "common boiler plate text repeated verbatim") for i in range(6)]
    rows += [
        (10, "alpha beta gamma delta epsilon zeta eta theta"),
        (11, "alpha beta gamma delta epsilon zeta eta iota"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(word_shingles(docs, n=3), num_hashes=16)

    full = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(sigs, 16, 4).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(sigs, 16, 4, max_bucket=4).collect()
    }
    assert capped <= full
    # the 6-clone mega bucket (15 pairs) is gone...
    assert not any(a < 6 and b < 6 for a, b in capped)
    assert any(a < 6 and b < 6 for a, b in full)
    # ...while pairs from small buckets survive untouched
    assert ((10, 11) in capped) == ((10, 11) in full)


def test_bloom_prefilter_refuses_mismatched_k(spark):
    """The DataFrame bitmap is self-describing in k (column metadata):
    probing with a different k than the build would reintroduce false
    negatives, so it must raise, not silently filter."""
    import pytest as _pytest

    build = spark.range(100).selectExpr("id AS k")
    probe = spark.range(200).selectExpr("id AS k")
    bitmap = bloom_bitmap_df(build, "k", m_bits=1 << 12, k_hashes=3)
    with _pytest.raises(ValueError, match="k_hashes=3"):
        bloom_prefilter(probe, bitmap, "k", k_hashes=2)
    with _pytest.raises(ValueError, match=">= 1"):
        bloom_prefilter(probe, bitmap, "k", k_hashes=0)
    # matching k still works
    assert bloom_prefilter(probe, bitmap, "k", k_hashes=3).count() >= 100


def test_bloom_prefilter_validates_list_bitmap(spark):
    """A hand-built word list must describe a power-of-two bitmap and a
    positive k — e.g. an empty list (m_bits=0) fails loudly instead of
    producing a pmod-by-zero filter."""
    import pytest as _pytest

    probe = spark.range(10).selectExpr("id AS k")
    with _pytest.raises(ValueError):
        bloom_prefilter(probe, [], "k")
    with _pytest.raises(ValueError):
        bloom_prefilter(probe, [0, 0, 0], "k")  # 192 bits: not a power of 2


def test_plan_shape_flag_whitelists_designed_adaptations_only():
    """Round-9 verdict #7: the 'plan shapes identical' summary flag must
    read True when only WHITELISTED adaptations occur (dedup_minhash_lsh's
    designed broadcast->shuffle held it at False permanently, hiding any
    future undesigned switch) — and an injected undesigned switch must
    trip it."""
    from tools.scale_stress import plan_shape_summary

    base = {
        "a": {"shuffles": 3, "broadcasts": 1, "sec": 1.0},
        "b": {"shuffles": 2, "broadcasts": 2, "sec": 1.0},
    }
    wl = {"a": "designed broadcast->shuffle adaptation"}

    # only the whitelisted query adapts: flag stays a real True
    big = {
        "a": {"shuffles": 5, "broadcasts": 0, "sec": 2.0},
        "b": {"shuffles": 2, "broadcasts": 2, "sec": 2.0},
    }
    flag, designed, unexpected = plan_shape_summary(base, big, ["a", "b"], wl)
    assert flag is True
    assert designed == ["a"] and unexpected == []

    # inject an UNDESIGNED switch on a non-whitelisted query: trips
    big_bad = {
        "a": {"shuffles": 3, "broadcasts": 1, "sec": 2.0},
        "b": {"shuffles": 4, "broadcasts": 2, "sec": 2.0},
    }
    flag, designed, unexpected = plan_shape_summary(
        base, big_bad, ["a", "b"], wl
    )
    assert flag is False
    assert unexpected == ["b"] and designed == []

    # a whitelisted query that does NOT adapt is fine (permits, not requires)
    flag, designed, unexpected = plan_shape_summary(
        base, base, ["a", "b"], wl
    )
    assert flag is True and designed == [] and unexpected == []


def test_spread_parallelizes_narrow_input_and_keeps_rows(spark):
    """r13: spread() must widen a below-parallelism frame to the cluster
    default via DETERMINISTIC hash partitioning, without changing rows."""
    from icenetetl_spark.operators.scale import spread

    target = spark.sparkContext.defaultParallelism
    narrow = spark.range(500).coalesce(1).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("v")
    )
    assert narrow.rdd.getNumPartitions() == 1
    out = spread(narrow, "doc_id")
    assert out.rdd.getNumPartitions() == max(2, target)
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, narrow.collect())
    )
    # deterministic placement: two materializations land rows identically
    pid = F.spark_partition_id()
    a = sorted(map(tuple, out.select("doc_id", pid).collect()))
    b = sorted(map(tuple, out.select("doc_id", pid).collect()))
    assert a == b


def test_spread_is_noop_when_already_parallel(spark):
    """The at-scale posture: an input at/above cluster parallelism must
    pass through with NO added exchange (same plan object)."""
    from icenetetl_spark.operators.scale import spread

    target = spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(target + 1, "id").select(
        F.col("id").alias("doc_id")
    )
    out = spread(wide, "doc_id")
    assert out is wide


def test_spread_requires_hash_keys(spark):
    from icenetetl_spark.operators.scale import spread

    import pytest

    with pytest.raises(ValueError, match="hash key"):
        spread(spark.range(3).coalesce(1))


def test_catalog_schema_sidecar_matches_inference(spark, tmp_path):
    """Every ParquetCatalog write leaves a ``_schema.json`` sidecar equal to
    the schema Spark infers from the table's files, or none at all."""
    import datetime

    from pyspark.sql import functions as F

    from icenetetl_spark.catalog import ParquetCatalog

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))

    def rows(lo, hi, tag):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            F.lit(tag).alias("hemisphere"),
            F.lit(datetime.date(2024, 3, 1)).alias("date_forecast_generated"),
            F.array(F.col("id")).alias("arr"),
        )

    def check(name, op):
        assert cat.schema(name) is not None, op
        assert cat.read(name).schema == spark.read.parquet(cat.path(name)).schema, op

    # "forecasts" is hive-partitioned (PARTITIONING), "t" is not
    for name in ("forecasts", "t"):
        assert cat.append_missing(name, rows(0, 10, "north"), ["k"]) == 10
        check(name, "create")
        assert cat.append_missing(name, rows(5, 15, "south"), ["k"]) == 5
        check(name, "append_missing")
        cat.upsert(name, rows(12, 20, "south"), ["k"])
        check(name, "upsert")
        cat.append(name, rows(20, 30, "north"))
        check(name, "append")
        cat.compact(name)
        check(name, "compact")
        assert cat.read(name).count() == 30
    cat.cluster_by("t", ["k"], num_files=2)
    check("t", "cluster_by")
    assert sorted(r["k"] for r in cat.read("t").collect()) == list(range(30))

    # an append with another schema leaves no sidecar: reads infer again
    cat.append("t", rows(30, 40, "north").withColumn("extra", F.lit(1)))
    assert cat.schema("t") is None
    assert cat.read("t").count() == 40
