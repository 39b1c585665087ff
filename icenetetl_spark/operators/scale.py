"""Scale-out helpers: the explicit knobs you reach for when AQE's automatic
handling isn't enough at 100 TB — key-salting for skewed joins, posting-list
capping for inverted-index self-joins, bucketed tables for shuffle-free
repeated joins.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from icenetetl_spark.session import memoized


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where ``skewed`` has hot keys: salt the skewed side with a
    uniform random bucket and replicate the small side across all buckets,
    so one hot key spreads over ``salt_buckets`` tasks instead of one.

    AQE's skew-join split handles most cases automatically (enabled in
    session.py); explicit salting remains necessary when the skew is in an
    aggregation-before-join or the small side is too big to broadcast but
    small enough to replicate 16x.

    Only inner/left/left_semi are supported: the replicated right side would
    emit unmatched right rows once PER BUCKET under right/full/anti joins —
    silently wrong, so we refuse.

    The salt is DETERMINISTIC — a hash of the whole row, not rand(): a seeded
    rand() is partition-layout-dependent, so a task retry or upstream
    repartition could re-salt the same row differently mid-job. A row hash is
    retry-stable. Rows identical in every column share a bucket (harmless for
    correctness; spreading only degrades under massive full-row duplication —
    pass a unique id column upstream if that is the actual workload).
    """
    if how not in ("inner", "left", "left_outer", "left_semi"):
        raise ValueError(
            f"salted_join supports inner/left/left_semi, not {how!r}: "
            "the replicated right side breaks right/full/anti semantics"
        )
    salt = F.pmod(F.xxhash64(*skewed.columns), F.lit(salt_buckets)).cast(
        "int"
    ).alias("__salt")
    salted_left = skewed.select("*", salt)
    buckets = F.explode(
        F.sequence(F.lit(0), F.lit(salt_buckets - 1))
    ).alias("__salt")
    replicated_right = small.select("*", buckets)
    out = salted_left.join(replicated_right, [*on, "__salt"], how)
    return out.drop("__salt")


def _bloom_validate(m_bits: int, k_hashes: int) -> None:
    if m_bits < 64 or m_bits & (m_bits - 1):
        raise ValueError(f"m_bits must be a power of two >= 64, got {m_bits}")
    if k_hashes < 1:
        raise ValueError(f"k_hashes must be >= 1, got {k_hashes}")


def _bloom_positions(key: str, m_bits, k_hashes: int) -> list:
    """The k bit positions for a key (``m_bits`` may be an int or a
    Column). The key is canonicalized to STRING before hashing: xxhash64
    is input-TYPE-sensitive (an INT 5 and a BIGINT 5 hash to different
    values), so a bitmap built from one width probed with another would
    produce silent FALSE NEGATIVES — the one failure mode this operator
    must never have. The string form is stable across integral widths and
    char/varchar paddings; for genuinely cross-type joins (decimal vs
    int, float vs int) cast both sides to a common type first, exactly as
    the equi-join itself requires."""
    m = m_bits if isinstance(m_bits, F.Column) else F.lit(m_bits)
    k = F.col(key).cast("string")
    return [F.pmod(F.xxhash64(k, F.lit(i)), m) for i in range(k_hashes)]


def _bloom_word_rows(
    build: DataFrame, key: str, m_bits: int, k_hashes: int
) -> DataFrame:
    """(w, word) rows: OR-aggregated bitmap words over the build keys —
    the single source of the hashing scheme shared by the list- and
    DataFrame-form bitmaps (divergence here would make bitmaps from one
    form silently miss probes hashed by the other)."""
    pos = _bloom_positions(key, m_bits, k_hashes)
    return (
        build.select(F.explode(F.array(*pos)).alias("p"))
        .select(
            (F.col("p") / F.lit(64)).cast("long").alias("w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(p, 64) AS INT))"
            ).alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("word"))
    )


def bloom_bitmap(
    build: DataFrame,
    key: str,
    m_bits: int = 1 << 16,
    k_hashes: int = 3,
) -> list[int]:
    """Build a Bloom-filter bitmap (as int64 words) over ``build[key]``.

    The words are OR-aggregated on the executors (position -> one-bit
    long, ``bit_or`` groupBy over word indexes), so the collect is bounded
    by the BITMAP size — at most m_bits/64 (word, bits) rows — never by
    the build table's cardinality: driver state stays metadata-sized
    whether the build side has a thousand keys or a billion. (An earlier
    revision collected distinct bit POSITIONS, which is only
    bitmap-bounded once the filter saturates — on a well-sized bitmap it
    is key-bounded, i.e. a corpus-sized collect. Measured: 30k keys on a
    2^19 bitmap collected ~78k rows and cost more than the join it was
    saving.) This is the same shape Spark's own runtime row-group
    filtering uses (SPARK-32268: aggregate a bloom on the executors, ship
    the bitmap, filter the probe scan); here it is an explicit operator so
    a pipeline can build the bitmap ONCE and prefilter many probe tables
    against it.

    k hash positions per key come from xxhash64 seeded by term index —
    JVM-side, zero Python in the hot path. NULL keys never equi-join, so
    callers pair this with an exact join that drops them (false positives
    are expected and harmless by contract; false negatives are impossible:
    every non-null build key sets all k of its bits).
    """
    _bloom_validate(m_bits, k_hashes)
    rows = _bloom_word_rows(build, key, m_bits, k_hashes).collect()
    words = [0] * (m_bits // 64)
    for r in rows:
        # bit_or returns int64 two's complement already — store verbatim
        words[int(r["w"])] = int(r["word"])
    return words


def bloom_bitmap_df(
    build: DataFrame,
    key: str,
    m_bits: int = 1 << 16,
    k_hashes: int = 3,
) -> DataFrame:
    """The fully-distributed twin of :func:`bloom_bitmap`: a ONE-ROW
    DataFrame holding the whole word array in a ``bm`` column. The bitmap
    never touches the driver and — crucially — never becomes an expression
    literal: a 131k-word bitmap as a parsed array literal put ~400k nodes
    into the expression tree (three element_at copies) and cost ~7s of
    analysis per action at 10x, while as DATA it is one attribute
    reference riding a single-row broadcast. This is the path
    bloom_semi_join uses; the list form remains for bitmaps small enough
    to pin in application code."""
    _bloom_validate(m_bits, k_hashes)
    words = _bloom_word_rows(build, key, m_bits, k_hashes)
    # zero-fill absent buckets so element_at indexing is total, then pack
    # the words in bucket order into the single array row
    slots = build.sparkSession.range(m_bits // 64).withColumnRenamed(
        "id", "w"
    )
    # words is bounded by m_bits/64 rows BY CONSTRUCTION — pin the
    # broadcast (the standing rule: bounded sides never rely on planner
    # size estimates), leaving the explode->groupBy as the bitmap's only
    # data-sized shuffle
    return (
        slots.join(F.broadcast(words), "w", "left")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("w"),
                        F.coalesce("word", F.lit(0).cast("long")).alias(
                            "word"
                        ),
                    )
                )
            ).alias("s")
        )
        .select(
            # collision-proof internal name: the probe side may well have
            # its own "bm" column. The bitmap is self-describing: m_bits
            # is 64*size(bm) by construction, and k_hashes rides in the
            # column METADATA (schema-level, no extra job) so a probe can
            # never silently test different bits than the build set —
            # bloom_prefilter refuses a conflicting k.
            F.transform(F.col("s"), lambda x: x["word"]).alias(
                "__bloom_bm", metadata={"bloom_k": k_hashes}
            )
        )
    )


def _bloom_bit_tests(key: str, bm: F.Column, k_hashes: int) -> F.Column:
    """AND of the k getbit probes against an array<long> column ``bm``
    (self-describing: m_bits = 64 * size(bm))."""
    m_bits = F.size(bm).cast("long") * F.lit(64)
    cond = None
    for p in _bloom_positions(key, m_bits, k_hashes):
        word = F.element_at(bm, (p / F.lit(64)).cast("int") + F.lit(1))
        hit = F.getbit(word, F.pmod(p, F.lit(64)).cast("int")) == 1
        cond = hit if cond is None else cond & hit
    return cond


def bloom_prefilter(
    probe: DataFrame,
    words: list[int] | DataFrame,
    key: str,
    k_hashes: int = 3,
) -> DataFrame:
    """Keep only ``probe`` rows whose ``key`` MIGHT be in the bloom bitmap
    (superset-of-matches guarantee: false positives pass, true matches
    always pass — PROVIDED ``k_hashes`` equals the value the bitmap was
    built with; probing bits the build never set would re-admit false
    negatives, so pass both through one call site like bloom_semi_join
    does). Pure column arithmetic — the bit tests are getbit over an
    array<long> literal, so the filter runs inside the scan stage BEFORE
    any exchange: at 100 TB this is the lever that keeps a selective
    big-big join from shuffling the entire probe table.

    ``words`` is either the 1-row DataFrame from :func:`bloom_bitmap_df`
    (preferred — the bitmap stays data, joined in as a single-row
    broadcast) or the Python list from :func:`bloom_bitmap` (small pinned
    bitmaps only: the words become a parsed expression literal, whose
    tree size taxes analysis ~linearly in the word count).

    The DataFrame form is self-describing in ``k``: bloom_bitmap_df stamps
    the build-time k_hashes into the column metadata, and a conflicting
    ``k_hashes`` here raises instead of silently probing bits the build
    never set (the operator's one forbidden failure mode — false
    negatives). The list form cannot carry metadata; its k contract stays
    on the caller, guarded by the same k>=1 validation."""
    if k_hashes < 1:
        raise ValueError(f"k_hashes must be >= 1, got {k_hashes}")
    if isinstance(words, DataFrame):
        meta = {}
        for f in words.schema.fields:
            if f.name == "__bloom_bm":
                meta = f.metadata or {}
        built_k = meta.get("bloom_k")
        if built_k is not None and int(built_k) != int(k_hashes):
            raise ValueError(
                f"bitmap was built with k_hashes={built_k} but probe asked "
                f"for k_hashes={k_hashes}; probing bits the build never set "
                "would reintroduce false negatives"
            )
        joined = probe.crossJoin(F.broadcast(words))
        return joined.filter(
            _bloom_bit_tests(key, F.col("__bloom_bm"), k_hashes)
        ).drop("__bloom_bm")
    # a hand-built list must still describe a power-of-two bitmap
    _bloom_validate(64 * len(words), k_hashes)
    # Literal transport matters twice here. (1) As SQL TEXT, not F.lit:
    # py4j converts a Python list element-wise — measured 5.4s for 8192
    # words and 39.6s for 65536 at query-BUILD time, dwarfing the join
    # being optimized — while parsing "array(...)" is ~10ms and constant-
    # folds to the identical single literal. (2) With an explicit L
    # suffix per word: a saturated (all -1) or empty (all 0) bitmap fits
    # int32, inference would type the array int, and getbit's legal
    # position range would silently shrink to [0, 32) — a runtime error
    # on exactly the degenerate bitmaps.
    lit_words = F.expr("array(" + ",".join(f"{w}L" for w in words) + ")")
    return probe.filter(_bloom_bit_tests(key, lit_words, k_hashes))


def bloom_semi_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    m_bits: int | None = None,
    k_hashes: int = 3,
    bits_per_key: int = 16,
    max_bits: int = 1 << 26,
) -> DataFrame:
    """Semi-join ``probe`` to ``build`` on ``key`` with a Bloom prefilter:
    result rows are EXACTLY the plain left-semi join's (the exact join
    removes bloom false positives and NULL-key passthroughs), but the rows
    entering the join exchange are only the bitmap survivors. Use when the
    build side is too large to broadcast as a hash relation yet its BITMAP
    fits anywhere, and the probe side is the 100-TB table. Bitmap
    internals never affect the result, so the fast JVM xxhash64 is used
    without any oracle-reproducibility cost.

    ``m_bits=None`` (the default) sizes the bitmap from the build side —
    ``bits_per_key`` bits per approx-distinct key, rounded up to a power
    of two and capped at ``max_bits`` (2^26 = 8 MiB of words) — because a
    FIXED bitmap is a trap: a build side much larger than m_bits/10
    saturates the filter, which then costs per-row hashing on the entire
    probe and prunes nothing (measured: a 301k-key build over 2^16 bits
    passed 100% of probes). 16 bits/key at k=3 gives ~0.5% false
    positives; past the cap the filter degrades gracefully toward
    saturation and the exact join still guarantees the result.

    Cost note: one call scans the build side three times (cardinality
    estimate, bitmap aggregation, exact join). When the build cardinality
    is known, pass ``m_bits`` explicitly to skip the first scan; when the
    build side is expensive to recompute, persist it (or its key
    projection) before calling — the operator deliberately does not
    persist caller data behind the caller's back."""
    if m_bits is None:
        n = build.agg(F.approx_count_distinct(key).alias("n")).collect()[0][
            "n"
        ]
        # 1.1x headroom on the HLL estimate (default rsd ~5%): the
        # power-of-two round-up usually absorbs an underestimate, but not
        # when the true count sits just above a boundary — headroom makes
        # the boundary case pick the next size instead of silently
        # shipping a partially saturated filter
        target = max(64, int(bits_per_key * max(int(n), 1) * 1.1))
        m_bits = min(1 << (target - 1).bit_length(), max_bits)
    bitmap = bloom_bitmap_df(build, key, m_bits=m_bits, k_hashes=k_hashes)
    pre = bloom_prefilter(probe, bitmap, key, k_hashes=k_hashes)
    return pre.join(build.select(key), key, "left_semi")


def cap_document_frequency(
    postings: DataFrame,
    max_df: int,
    term_col: str = "shingle",
) -> DataFrame:
    """Drop terms whose posting list exceeds ``max_df`` documents before an
    inverted-index self-join (dedup.jaccard_pairs / minhash candidates).

    A boilerplate shingle occurring in 10^6 documents would contribute
    10^12 candidate pairs — the classic quadratic blowup. Capping is both a
    performance guard and standard dedup practice (ubiquitous shingles carry
    no signal).

    Implemented as a count window over ``term_col`` rather than a
    groupBy+join: ONE hash shuffle instead of two, and the output stays
    hash-partitioned by the term — a downstream inverted-index self-join on
    the same key starts from the already-partitioned exchange instead of
    reshuffling (ReuseExchange then shares it across both join sides).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(term_col)
    return (
        postings.withColumn("__df", F.count(F.lit(1)).over(w))
        .filter(F.col("__df") <= max_df)
        .drop("__df")
    )


def _spread_bits(x: F.Column) -> F.Column:
    """Spread the low 32 bits of ``x`` so bit i lands at position 2i (the
    standard mask-shift Morton spread) — pure codegen arithmetic."""
    x = (x.bitwiseOR(F.shiftleft(x, 16))).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    x = (x.bitwiseOR(F.shiftleft(x, 8))).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    x = (x.bitwiseOR(F.shiftleft(x, 4))).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(0x3333333333333333))
    x = (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(0x5555555555555555))
    return x


def morton_code(x: F.Column, y: F.Column) -> F.Column:
    """Interleave the bits of two non-negative bucket ids into one Z-order
    key: points close in BOTH dimensions get close codes, so sorting by the
    code co-locates them — the mechanism behind Delta's OPTIMIZE ZORDER.
    Inputs must already be bounded non-negative ints (bucketed ranks or
    scaled values); see ``zorder_key`` for the scaling wrapper."""
    return _spread_bits(x.cast("long")).bitwiseOR(
        F.shiftleft(_spread_bits(y.cast("long")), 1)
    )


def zorder_key(
    df: DataFrame, cols: Sequence[str], bits: int = 16
) -> F.Column:
    """Z-order key over two columns: each column is min/max-scaled to a
    ``bits``-bit bucket (one 1-row aggregate collected as metadata — the
    same k-row-driver-state pattern as the prefix-sum operators), then
    Morton-interleaved. Linear scaling assumes roughly uniform columns; for
    heavily skewed ones substitute range-bucketed ranks (what Delta does
    with boundary sampling) — same interleave."""
    if len(cols) != 2:
        raise ValueError("zorder_key interleaves exactly 2 columns")
    # bits=32 would spread a bucket's bit 31 to position 62, and the y side's
    # extra shift lands it on the int64 SIGN bit — high-y rows would sort
    # before low-y ones, silently destroying the clustering. Beyond 32 the
    # spread masks drop bits. 31 is the widest sign-safe width.
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
    stats = df.agg(*aggs).collect()[0]
    if any(stats[f"__mn_{c}"] is None or stats[f"__mx_{c}"] is None for c in cols):
        # empty table or an all-null clustering column: nothing to order —
        # a constant key makes cluster_by a no-op instead of a TypeError
        return F.lit(0).cast("long")
    buckets = []
    for c in cols:
        lo, hi = stats[f"__mn_{c}"], stats[f"__mx_{c}"]
        span = max(float(hi) - float(lo), 1e-300)
        scaled = (
            (F.col(c).cast("double") - F.lit(float(lo)))
            / F.lit(span)
            * F.lit((1 << bits) - 1)
        )
        buckets.append(F.floor(scaled).cast("long"))
    return morton_code(buckets[0], buckets[1])


def cluster(
    df: DataFrame, cols: Sequence[str], num_parts: int, zorder: bool = False
) -> DataFrame:
    """``df`` range-partitioned into ``num_parts`` partitions and sorted
    within each, on ``cols`` or, with ``zorder=True`` (exactly 2 cols), on
    their ``zorder_key``. Each partition then covers a disjoint range of the
    leading column (linear) or a small rectangle of both (Z-order), so
    per-file or per-write-set min/max statistics become tight."""
    if not zorder:
        return df.repartitionByRange(num_parts, *cols).sortWithinPartitions(*cols)
    return (
        df.withColumn("__zk", zorder_key(df, list(cols)))
        .repartitionByRange(num_parts, "__zk")
        .sortWithinPartitions("__zk")
        .drop("__zk")
    )


def spread(df: DataFrame, *keys: str, factor: int = 1) -> DataFrame:
    """Hash-repartition a CPU-dense frame up to cluster parallelism before
    an expensive per-row projection — and a NO-OP when the frame is already
    at least that parallel.

    Why it exists: a parquet scan can never be more parallel than its
    row-group count, so a small single-row-group input serializes every
    downstream map-side stage regardless of cores —
    the md5-per-position stage of ``dedup_substring_spans`` ran as ONE task
    (95% of the query wall at sf0.1), and the same shape throttled the
    MinHash shingle, SimHash word, and embedding-dot projections. Per-row
    CPU there is orders of magnitude above shuffle cost (k bytes hashed per
    text byte; hundreds of FLOPs per vector element), so one small
    repartition exchange buys full-width execution.

    Scale posture: the partition probe makes this ADAPTIVE, not a local[32]
    tune — on a real deployment the same operators read thousands of
    row groups, the probe sees parallelism >= cores, and no exchange is
    added (the at-scale plan is untouched; only narrow inputs pay one
    extra pass over what is by definition a small frame).

    ``keys`` choose deterministic hash partitioning (retry-stable, same
    rationale as salted_join's hash salt — a RoundRobin repartition may
    re-deal rows on task retry); callers pass the row's id column.
    """
    sc = df.sparkSession.sparkContext
    target = max(2, sc.defaultParallelism * factor)
    if not keys:
        raise ValueError(
            "spread() needs at least one hash key: keyless RoundRobin "
            "placement is not retry-stable (see salted_join docstring)"
        )
    # The partition probe below plans the frame (30-80 ms of driver time)
    # and composed queries pass the same handle repeatedly (load_table
    # memoizes handles), so memoize on plan identity and the spread
    # signature. One shared repartitioned frame also lets ReuseExchange
    # share the exchange across consumers. The value holds df, which pins
    # its id().
    def probe() -> tuple[DataFrame, DataFrame]:
        # physical-plan probe only (no job): row-group-bound scans report
        # their real split count here; skip the exchange when parallel
        if df.rdd.getNumPartitions() < target:
            return df, df.repartition(target, *[F.col(k) for k in keys])
        return df, df

    return memoized(df.sparkSession, ("spread", id(df), target, keys), probe)[1]


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: Sequence[str],
    num_buckets: int = 32,
) -> None:
    """Persist as a bucketed+sorted managed table: repeated equi-joins or
    aggregations on ``keys`` between co-bucketed tables run WITHOUT a
    shuffle (the sort-merge join reads pre-partitioned, pre-sorted buckets).

    This is the Spark equivalent of the co-location the reference gets
    implicitly from Postgres-side joins, and the standing replacement for
    its B-tree indexes on join keys (processor.py:286-288).
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a dropped-from-catalog table can leave its managed location behind
    # (e.g. fresh in-memory metastore over a reused warehouse dir)
    import os
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    loc = os.path.join(wh.removeprefix("file:"), table.lower())
    if wh and os.path.isdir(loc):
        shutil.rmtree(loc)
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, *keys)
        .sortBy(*keys)
        .saveAsTable(table)
    )
