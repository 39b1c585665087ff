"""Text-analysis queries over ``documents``, binding operators.text.
Oracle SQL mirrors the marker/stopword inventories programmatically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from icenetetl_spark.operators import text as T
from icenetetl_spark.sources.testdata import load_table

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

# passage-dedup constants shared with the dedup_paragraphs gate — single
# source of truth so the pipeline filter and the standalone signal can't
# drift apart
from icenetetl_spark.queries.dedup import (  # noqa: E402
    PARA_DUP_MAX as _PARA_MAX,
    PARA_WINDOW as _PARA_W,
)
_TOKENS = f"string_split({_NORM}, ' ')"


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13: spread the row-group-bound scan so the tokenize-heavy
    # projection runs at cluster width (A/B 0.75x; no-op at scale —
    # operators/scale.spread)
    from icenetetl_spark.operators.scale import spread

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    f = T.quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        "lang",
        f["n_tokens"].alias("n_tokens"),
        f["distinct_ratio"].alias("distinct_ratio"),
        f["mean_token_len"].alias("mean_token_len"),
        f["stopword_ratio"].alias("stopword_ratio"),
    )


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13: spread the row-group-bound scan so the per-language marker
    # scoring runs at cluster width (A/B 0.57x; no-op at scale)
    from icenetetl_spark.operators.scale import spread

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    # Two-stage plan: tokenize+score once in a projection, then a cheap CASE
    # argmax — avoids re-deriving the token split per language branch
    # (measured 5.2s -> 0.5s at sf0.1).
    scored = docs.select(
        "doc_id",
        "lang",
        *[
            T._count_in(T.tokens(F.col("text")), words).alias(f"s_{lang}")
            for lang, words in T.LANG_MARKERS.items()
        ],
    )
    pred = T.predict_language_from_scores(
        {lang: F.col(f"s_{lang}") for lang in T.LANG_MARKERS}
    )
    return scored.select(
        "doc_id",
        "lang",
        pred.alias("predicted_lang"),
        (pred == F.col("lang")).alias("is_match"),
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.quality_score(F.col("text")).alias("quality"))


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.fingerprint(F.col("text")).alias("fingerprint"),
        T.token_count(F.col("text")).alias("n_tokens"),
        T.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


def text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level heavy hitters: top-50 tokens by frequency (deterministic
    tiebreak on the token). The explode -> count is the canonical vocabulary
    pass of any tokenizer-training / frequency-filter pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(T.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(50)
    )


def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level bigram frequencies, top-50 deterministic — the n=2
    vocabulary pass (all occurrences, NOT per-doc distinct like the dedup
    shingles: frequency estimation wants multiplicity). The token split is
    materialized in its own projection before the transform lambda — same
    O(words²) pitfall as word_shingles."""
    docs = load_table(spark, sf_dir, "documents")
    wdf = docs.select(T.tokens(F.col("text")).alias("__w"))
    w = F.col("__w")
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size(w) - 2),
        lambda i: F.concat_ws(" ", F.element_at(w, i + 1), F.element_at(w, i + 2)),
    )
    return (
        wdf.filter(F.size(w) >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(50)
    )


def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document length distribution in 100-char buckets — the standard
    pre-filter diagnostic before length-based quality cuts."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (F.floor(F.col("n_chars") / 100) * 100).cast("long")
    return (
        docs.groupBy(bucket.alias("len_bucket"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def doc_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 split keyed on the content fingerprint (so exact
    dups can never straddle train and test)."""
    from icenetetl_spark.operators.sampling import split_by_hash

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", T.fingerprint(F.col("text")).alias("fp")
    )
    return split_by_hash(
        docs, "fp", {"train": 90, "val": 5, "test": 5}
    ).select("doc_id", "split")


def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 20 docs per language, hash-ranked (deterministic)."""
    from icenetetl_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(docs, ["lang"], 20, "doc_id")


def doc_pack_contiguous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous sequence packing: docs assigned to 2048-token context
    windows by running token count in doc_id order (the distributed
    approximation of greedy packing for pretraining batch assembly)."""
    from icenetetl_spark.operators.sampling import pack_contiguous

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", T.token_count(F.col("text")).alias("n_tokens")
    )
    return pack_contiguous(docs, "n_tokens", 2048, ["doc_id"]).select(
        "doc_id", "n_tokens", "pack_id", "pack_offset"
    )


def corpus_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus "data recipe" table: per source, document/token volume,
    token share of the whole corpus, exact-dup count, and mean quality —
    the report that drives per-source sampling weights in a pretraining
    mix. One projection + one groupBy + a 1-row broadcast for the global
    token total (never a partition-less window, which would serialize on
    one task at scale)."""
    from icenetetl_spark.functions.portable import fsum_col

    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "source",
        T.fingerprint(F.col("text")).alias("fp"),
        T.quality_score(F.col("text")).alias("quality"),
        T.token_count(F.col("text")).alias("n_tokens"),
    )
    # fixed-point (not decimal) quality mean: quality is a ratio of
    # arbitrary integers — a power-of-two token count would put it on a
    # decimal half-boundary where engine rounding modes diverge
    agg = per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).alias("n_exact_dups"),
        (fsum_col("quality", scale=9) / F.count(F.lit(1))).alias(
            "mean_quality"
        ),
    )
    total = agg.agg(F.sum("n_tokens").alias("__total"))
    return agg.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("__total")).alias(
            "token_share"
        ),
        "n_exact_dups",
        "mean_quality",
    )


# benchmark split for the decontamination check: every 17th doc plays the
# role of the held-out eval suite; the rest is the training corpus
_BENCH_MOD = 17


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-token-fraction repetition signal per document."""
    return T.repetition_signals(load_table(spark, sf_dir, "documents"))


def _pii_fixture_text(c: F.Column) -> F.Column:
    """Deterministic PII-bearing sentence derived from c_custkey — the
    synthetic tables carry no contact fields, so the corpus is constructed
    in-query (the oracle mirrors the identical arithmetic): one email, one
    TPC-H-shaped dashed phone, one IPv4 per customer, embedded in text."""
    key = c.cast("long")
    pad3 = lambda x: F.lpad((x).cast("string"), 3, "0")  # noqa: E731
    email = F.concat(F.lit("user"), key.cast("string"), F.lit("@example.com"))
    phone = F.concat_ws(
        "-",
        (key % 25 + 10).cast("string"),
        pad3(key % 1000),
        pad3(key * 7 % 1000),
        F.lpad((key * 13 % 10000).cast("string"), 4, "0"),
    )
    ip = F.concat_ws(
        ".",
        (key % 223 + 1).cast("string"),
        (key * 3 % 256).cast("string"),
        (key * 5 % 256).cast("string"),
        (key * 7 % 256).cast("string"),
    )
    return F.concat_ws(
        " ",
        F.col("c_name"),
        F.lit("mail"), email,
        F.lit("tel"), phone,
        F.lit("ip"), ip,
        F.col("c_mktsegment"),
    )


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (operators.text.redact_pii): emails, IPv4 addresses
    and dashed phone numbers replaced by category tokens, with per-category
    match counts on the raw text. All three passes are single JVM
    regexp_replace steps inside one projection — the plan is a pure scan
    with zero shuffles, so redaction throughput is scan throughput."""
    cust = load_table(spark, sf_dir, "customer")
    raw = _pii_fixture_text(F.col("c_custkey"))
    counts = T.pii_counts(raw)
    return cust.select(
        "c_custkey",
        T.redact_pii(raw).alias("redacted"),
        counts["email"].alias("n_email"),
        counts["ipv4"].alias("n_ipv4"),
        counts["phone"].alias("n_phone"),
    )


# RAG / context-window chunker parameters: 32-token windows, stride 24
# (8-token overlap) — shared verbatim with the oracle SQL below.
CHUNK_WINDOW = 32
CHUNK_STEP = 24


def doc_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (operators.text.token_chunks) —
    the retrieval/context-packing pass that splits every document into
    32-token chunks with 8 tokens of overlap. The chunk explosion is
    array arithmetic (sequence + posexplode + slice) inside whole-stage
    codegen: no shuffle, no Python, and each task chunks only its own
    partition's documents — embarrassingly parallel at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", T.tokens(F.col("text")).alias("__w"))
    starts, chunk = T.token_chunks(
        F.col("__w"), CHUNK_WINDOW, CHUNK_STEP
    )
    ex = w.select(
        "doc_id", "__w", F.posexplode(starts).alias("chunk_idx", "start")
    )
    piece = chunk(F.col("start"))
    return ex.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).alias("n_chunk_tokens"),
    )


def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-overlap check: per training doc, distinct 3-gram shingles shared
    with the benchmark split (doc_id % 17 == 0 plays the eval suite)."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % _BENCH_MOD == 0)
    train = docs.filter(F.col("doc_id") % _BENCH_MOD != 0)
    return T.contamination(train, bench, n=3)


def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data prep chain a real corpus runs END TO END:
    score quality -> drop low-quality docs -> drop boilerplate docs whose
    passages are mostly duplicated elsewhere (sub-document dedup signal,
    see dedup_paragraphs) -> collapse exact duplicates to their canonical
    (min-id) doc -> deterministic content-keyed 90/5/5 split -> contiguous
    token packing. Every stage is an operator already hash-gated
    individually; this query gates the COMPOSITION (stage boundaries are
    where silent schema/semantic drift hides).

    Packing runs over the whole kept corpus in doc_id order for oracle
    determinism; per-split packing is the same prefix sum partitioned by
    split. Scale shape: projections + one fingerprint window + the passage
    fingerprint groupBy/join + one split assignment + the distributed
    prefix sum — no all-pairs stage anywhere.
    """
    from pyspark.sql.window import Window

    from icenetetl_spark.operators.dedup import passage_dup_stats, split_passages
    from icenetetl_spark.operators.sampling import pack_contiguous, split_by_hash

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        T.fingerprint(F.col("text")).alias("fp"),
        T.quality_score(F.col("text")).alias("quality"),
        T.token_count(F.col("text")).alias("n_tokens"),
    )
    para = passage_dup_stats(
        split_passages(docs, mode="window", window=_PARA_W)
    ).select("doc_id", "dup_frac")
    kept = (
        scored.join(para, "doc_id")
        .filter((F.col("quality") >= 0.5) & (F.col("dup_frac") <= _PARA_MAX))
        .drop("dup_frac")
    )
    w = Window.partitionBy("fp")
    canon = (
        kept.withColumn("__mn", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("__mn"))
        .drop("__mn")
    )
    split = split_by_hash(canon, "fp", {"train": 90, "val": 5, "test": 5})
    packed = pack_contiguous(split, "n_tokens", 2048, ["doc_id"])
    return packed.select("doc_id", "split", "quality", "n_tokens", "pack_id")


# BM25 retrieval over the corpus: fixed query terms, Robertson idf,
# k1/b at their standard values. Every arithmetic step is written in the
# same operation order as the SQL oracle (and the per-doc cross-term sum
# goes through the fixed-point accumulator), so scores hash-match.
BM25_QUERY = ["spark", "vector", "stream"]
BM25_K1, BM25_B, BM25_TOPK = 1.2, 0.75, 20


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval — the scoring behind retrieval-based corpus
    curation (nearest public shape: Robertson & Zaragoza, "The
    Probabilistic Relevance Framework: BM25 and Beyond"). Plan (round 9:
    NO full-token exchange remains): per-doc term frequencies aggregate
    only the QUERY terms — the isin filter is pushed below the explode,
    so the tf shuffle carries a handful of terms instead of the whole
    token stream (the former plan shuffled every token twice: once for
    tf over ALL terms that a later filter discarded, once for document
    lengths). Document length is size(tokens(text)) — a map-only
    projection that equals the explode+groupBy count for EVERY doc,
    including empty ones: split() never returns an empty array (an empty
    text tokenizes to [""], one element, so the old explode form also
    counted it as dl=1 — pinned in tests/test_bm25_edge.py). NULL text is
    the one input class where the two forms diverge (tokens(NULL) is
    NULL, so size() yields NULL — the doc still counts toward n_docs
    while adding nothing to sum(dl) — where explode drops the row), so NULL-text
    docs are filtered up front — exactly the rows the pre-rewrite explode
    plan and the oracle's unnest both drop (round-9 advice; pinned in
    tests/test_bm25_edge.py). N/avgdl and every downstream float are
    therefore bit-identical and the oracle keeps the explode formulation.
    Then: a 3-row broadcast of per-term document frequencies, a 1-row
    broadcast of (N, avgdl), score arithmetic fully JVM-side,
    fixed-point-accumulated per-doc sum, distributed top-k."""
    from icenetetl_spark.functions.portable import fsum_col

    # r14 (VERDICT r13 #4): the r13 spread of this scan is REMOVED — the
    # clean-window interleaved on/off A/B (5 warmed reps, one session)
    # measured spread-on 1.15x SLOWER (on 0.96-1.46s vs off ~1.0s): the
    # query-term isin filter keeps the tf branch tiny, so the exchange
    # cost outweighed the tokenize parallelism it bought (the r13
    # adoption read 0.88x in a degraded window; the driver's r13 run
    # agreed with today's reading at 0.83x). Same opt-out pattern as
    # dedup_simhash_topn.
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    qtf = (
        docs.select(
            "doc_id", F.explode(T.tokens(F.col("text"))).alias("term")
        )
        .filter(F.col("term").isin(BM25_QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = docs.select(
        "doc_id", F.size(T.tokens(F.col("text"))).cast("long").alias("dl")
    )
    # N and avgdl from two exact longs -> identical double division
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    dfreq = qtf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n, dfc = F.col("n_docs").cast("double"), F.col("df").cast("double")
    tfd, dld = F.col("tf").cast("double"), F.col("dl").cast("double")
    idf = F.log(F.lit(1.0) + (n - dfc + F.lit(0.5)) / (dfc + F.lit(0.5)))
    weight = idf * (
        tfd
        * F.lit(BM25_K1 + 1.0)
        / (
            tfd
            + F.lit(BM25_K1)
            * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * dld / F.col("avgdl"))
        )
    )
    scored = (
        qtf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(fsum_col(weight, scale=12).alias("score"))
    )
    from pyspark.sql.window import Window

    # distributed top-k (TakeOrderedAndProject: per-partition partial
    # top-k, never a global single-partition window over all scored docs);
    # the rank window then runs over exactly k rows
    topk = scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(
        BM25_TOPK
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return topk.select(
        "doc_id",
        F.row_number().over(w).cast("int").alias("rank"),
        "score",
    )


# temperature for the source-rebalancing exponent (alpha=0.5 == sqrt
# tempering, the multilingual/pretraining standard); sqrt is IEEE
# correctly-rounded, so both engines derive identical rates.
MIX_HASH_BUCKETS = 1_000_000


def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source rebalancing (alpha=0.5): target share per
    source ∝ sqrt(token_share), scaled so the largest feasible rate is
    1.0 (no source oversampled), then DETERMINISTIC per-doc sampling by
    portable-hash threshold — re-running the pipeline keeps exactly the
    same documents. The rate table is k rows (one per source), broadcast
    back for the keep filter; every float step is ordered identically to
    the oracle and the cross-source normalizer goes through the fixed-point
    accumulator."""
    from icenetetl_spark.functions.portable import fsum_col, portable_hash64

    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "source",
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        (
            portable_hash64(F.col("doc_id").cast("string"), bits=32)
            % MIX_HASH_BUCKETS
        ).alias("bucket"),
    )
    agg = per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )
    tot = agg.agg(F.sum("n_tokens").cast("double").alias("__total"))
    share = F.col("n_tokens").cast("double") / F.col("__total")
    sh = agg.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        share.alias("share"),
        F.sqrt(share).alias("w"),
    )
    z = sh.agg(fsum_col("w", scale=15).alias("__z"))
    p = sh.crossJoin(F.broadcast(z)).select(
        "source", "n_docs", "share", (F.col("w") / F.col("__z")).alias("p")
    )
    c = p.agg(F.min(F.col("share") / F.col("p")).alias("__c"))
    rates = p.crossJoin(F.broadcast(c)).select(
        "source",
        "n_docs",
        F.least(
            F.lit(1.0), (F.col("__c") * F.col("p")) / F.col("share")
        ).alias("rate"),
    )
    kept = (
        per.join(F.broadcast(rates.select("source", "rate")), "source")
        .filter(
            F.col("bucket")
            < F.floor(F.col("rate") * MIX_HASH_BUCKETS).cast("long")
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            "rate",
        )
    )


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring: per-document mean unigram
    log-probability under the corpus's own MLE unigram model — the
    classic cheap LM filter (low avg logprob = gibberish / OCR noise /
    off-distribution text). Plan: one token explode, one vocabulary
    groupBy, a keyed join back on term (both sides shuffle once on the
    term key — no broadcast assumption, the vocabulary is corpus-sized
    at scale), a 1-row total broadcast, and a fixed-point per-doc mean
    so the ln-derived doubles accumulate engine-exactly."""
    from icenetetl_spark.functions.portable import fsum_col

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("term")
    )
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n_t"))
    total = toks.agg(F.count(F.lit(1)).alias("__total"))
    lp = F.log(
        F.col("n_t").cast("double") / F.col("__total").cast("double")
    )
    return (
        toks.join(vocab, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (fsum_col(lp, scale=9) / F.count(F.lit(1))).alias("avg_logprob"),
        )
    )


def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram logprob under the corpus MLE 2-gram model
    — the order-sensitive upgrade of text_unigram_logprob (word-salad
    scores low here even when its unigram frequencies look normal):
    p(w_i | w_{i-1}) = c(w_{i-1} w_i) / c(w_{i-1} ·), both counted over
    bigram occurrences. Counts join back TERM-KEYED (no broadcast-
    vocabulary assumption — a 100 TB corpus's bigram table outgrows any
    broadcast), and the per-doc mean uses the same fixed-point accumulator
    as the unigram model. Docs with < 2 tokens have no bigrams and are
    absent, matching the oracle."""
    from icenetetl_spark.functions.portable import fsum_col

    docs = load_table(spark, sf_dir, "documents")
    wdf = docs.select("doc_id", T.tokens(F.col("text")).alias("__w")).filter(
        F.size("__w") >= 2
    )
    w = F.col("__w")
    pairs = F.transform(
        F.sequence(F.lit(0), F.size(w) - 2),
        lambda i: F.struct(
            F.element_at(w, i + 1).alias("l"),
            F.element_at(w, i + 2).alias("r"),
        ),
    )
    bg = wdf.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.l").alias("l"), F.col("p.r").alias("r")
    )
    c2 = bg.groupBy("l", "r").agg(F.count(F.lit(1)).alias("n_lr"))
    c1 = bg.groupBy("l").agg(F.count(F.lit(1)).alias("n_l"))
    scored = (
        bg.join(c2, ["l", "r"])
        .join(c1, ["l"])
        .select(
            "doc_id",
            F.log(
                F.col("n_lr").cast("double") / F.col("n_l").cast("double")
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (fsum_col("lp", 9) / F.count(F.lit(1))).alias("avg_logprob"),
    )



def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by tf*ln(N/df) with a
    deterministic term tiebreak — the classical summarization/labeling
    pass next to BM25 retrieval. Document frequencies join back
    TERM-KEYED (the corpus vocabulary outgrows any broadcast at 100 TB);
    the corpus size N is the only broadcast (one row). The rank window is
    partitioned by doc_id — millions of small independent partitions, the
    scale-safe window shape."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfc = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(dfc, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            # quantized at 1e9: Java Math.log and libm ln disagree by an
            # ulp on some inputs — rank on the quantized value so both
            # engines see the identical ordering (the fsum_col convention
            # applied to a per-row score)
            (
                F.floor(
                    F.col("tf").cast("double")
                    * F.log(
                        F.col("__n").cast("double") / F.col("df").cast("double")
                    )
                    * F.lit(1000000000.0)
                    + F.lit(0.5)
                ).cast("long")
                .cast("double")
                / F.lit(1000000000.0)
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "rank", "term", "score")
    )


def doc_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance sampling — the SOFT filter real
    pipelines use instead of a hard quality cut (a hard threshold throws
    away every mid-quality doc; sampling keeps them in proportion to
    quality): keep doc iff hash(doc_id) bucket < quality * buckets, so
    keep probability == quality score, per-doc deterministic (a rerun
    keeps exactly the same docs — the corpus_temperature_mix hashing
    discipline applied at document granularity). Pure projection+filter:
    zero shuffles."""
    from icenetetl_spark.functions.portable import portable_hash64

    docs = load_table(spark, sf_dir, "documents")
    bucket = portable_hash64(F.col("doc_id").cast("string"), bits=32) % MIX_HASH_BUCKETS
    q = T.quality_score(F.col("text"))
    return (
        docs.select("doc_id", q.alias("quality"), bucket.alias("__b"))
        .filter(
            F.col("__b")
            < F.floor(F.col("quality") * MIX_HASH_BUCKETS).cast("long")
        )
        .select("doc_id", "quality")
    )


QUERIES = {
    "corpus_source_mix": corpus_source_mix,
    "text_repetition": text_repetition,
    "text_pii_redact": text_pii_redact,
    "doc_chunk_tokens": doc_chunk_tokens,
    "text_decontaminate": text_decontaminate,
    "corpus_prep_pipeline": corpus_prep_pipeline,
    "text_stats": text_stats,
    "text_lang_id": text_lang_id,
    "text_quality": text_quality,
    "text_fingerprint": text_fingerprint,
    "text_top_tokens": text_top_tokens,
    "text_top_bigrams": text_top_bigrams,
    "text_length_histogram": text_length_histogram,
    "doc_train_split": doc_train_split,
    "doc_stratified_sample": doc_stratified_sample,
    "doc_pack_contiguous": doc_pack_contiguous,
    "text_bm25_topk": text_bm25_topk,
    "corpus_temperature_mix": corpus_temperature_mix,
    "text_unigram_logprob": text_unigram_logprob,
    "text_bigram_logprob": text_bigram_logprob,
    "text_tfidf_keywords": text_tfidf_keywords,
    "doc_importance_sample": doc_importance_sample,
}


def _in_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def _marker_count(words: tuple[str, ...]) -> str:
    return f"len(list_filter({_TOKENS}, x -> x IN ({_in_list(words)})))"


_SCORES = ",\n           ".join(
    f"{_marker_count(words)} AS s_{lang}" for lang, words in T.LANG_MARKERS.items()
)
_GREATEST = "greatest(" + ", ".join(f"s_{lang}" for lang in T.LANG_MARKERS) + ")"
_PRED_CASE = (
    f"CASE WHEN {_GREATEST} = 0 THEN 'und' "
    + " ".join(
        f"WHEN s_{lang} = {_GREATEST} THEN '{lang}'" for lang in T.LANG_MARKERS
    )
    + " END"
)

_STOP_COUNT = _marker_count(T.STOPWORDS)

_FEATURES = f"""
    len({_TOKENS}) AS n_tokens,
    CAST(len(list_distinct({_TOKENS})) AS DOUBLE) / len({_TOKENS}) AS distinct_ratio,
    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / len({_TOKENS})
        AS mean_token_len,
    CAST({_STOP_COUNT} AS DOUBLE) / len({_TOKENS}) AS stopword_ratio
"""

# shingle CTE over a filtered slice of documents (mirrors
# operators.dedup.word_shingles: raw-text single-space split, distinct per
# doc, docs shorter than n produce no shingles)
def _shingle_cte(name: str, where: str) -> str:
    return f"""
        {name}_words AS (
            SELECT doc_id, string_split(text, ' ') AS w
            FROM documents WHERE {where}
        ),
        {name} AS (
            SELECT DISTINCT doc_id,
                   concat_ws(' ', w[i+1], w[i+2], w[i+3]) AS shingle
            FROM {name}_words,
                 LATERAL (SELECT unnest(generate_series(0, len(w) - 3)) AS i) t
            WHERE len(w) >= 3
        )
    """


from icenetetl_spark.functions.portable import portable_hash64_sql as _ph_sql

ORACLES = {
    # Mirrors text_tfidf_keywords: same tf / distinct-doc df / ln(N/df)
    # arithmetic and the same (score DESC, term) tiebreak.
    "text_tfidf_keywords": f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
        ),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        dfc AS (SELECT term, count(DISTINCT doc_id) AS df
                FROM toks GROUP BY 1),
        n AS (SELECT count(*) AS n FROM documents),
        scored AS (
            SELECT doc_id, term,
                   CAST(CAST(FLOOR(CAST(tf AS DOUBLE)
                                   * ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE))
                                   * 1000000000.0 + 0.5) AS BIGINT) AS DOUBLE)
                       / 1000000000.0 AS score
            FROM tf JOIN dfc USING (term) CROSS JOIN n
        )
        SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, score
        FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                      ORDER BY score DESC, term) AS rank
            FROM scored
        ) WHERE rank <= 3
    """,
    # Mirrors text_unigram_logprob: same MLE model, same ln argument
    # order, same fixed-point per-doc accumulation.
    "text_unigram_logprob": f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
        ),
        vocab AS (SELECT term, count(*) AS n_t FROM toks GROUP BY term),
        tot AS (SELECT count(*) AS total FROM toks)
        SELECT doc_id, count(*) AS n_tokens,
               CAST(SUM(CAST(FLOOR(
                   ln(CAST(n_t AS DOUBLE) / CAST(total AS DOUBLE))
                   * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                   / 1000000000.0 / count(*) AS avg_logprob
        FROM toks JOIN vocab USING (term) CROSS JOIN tot
        GROUP BY doc_id
    """,
    # Mirrors corpus_temperature_mix: same tempering arithmetic in the
    # same order (sqrt shares, fixed-point normalizer, min-scaled rates) and
    # the same md5 hash threshold per document.
    "corpus_temperature_mix": f"""
        WITH per AS (
            SELECT source, doc_id, len({_TOKENS}) AS n_tokens,
                   {_ph_sql("CAST(doc_id AS VARCHAR)", 32)} % {MIX_HASH_BUCKETS}
                       AS bucket
            FROM documents
        ),
        agg AS (
            SELECT source, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS n_tokens
            FROM per GROUP BY source
        ),
        tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS total FROM agg),
        sh AS (
            SELECT source, n_docs,
                   CAST(n_tokens AS DOUBLE) / total AS share,
                   sqrt(CAST(n_tokens AS DOUBLE) / total) AS w
            FROM agg CROSS JOIN tot
        ),
        z AS (
            SELECT CAST(SUM(CAST(FLOOR(w * 1000000000000000.0 + 0.5)
                                 AS BIGINT)) AS DOUBLE)
                       / 1000000000000000.0 AS z
            FROM sh
        ),
        p AS (
            SELECT source, n_docs, share, w / z AS p FROM sh CROSS JOIN z
        ),
        c AS (SELECT MIN(share / p) AS c FROM p),
        rates AS (
            SELECT source, n_docs,
                   LEAST(1.0, (c * p) / share) AS rate
            FROM p CROSS JOIN c
        ),
        kept AS (
            SELECT per.source, count(*) AS n_kept
            FROM per JOIN rates ON per.source = rates.source
            WHERE bucket < CAST(FLOOR(rate * {MIX_HASH_BUCKETS}) AS BIGINT)
            GROUP BY per.source
        )
        SELECT source, n_docs, COALESCE(n_kept, 0) AS n_kept, rate
        FROM rates LEFT JOIN kept USING (source)
    """,
    # Mirrors text_bm25_topk with the IDENTICAL operation order in every
    # float expression (ln argument, tf saturation, per-doc fixed-point sum).
    "text_bm25_topk": f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
        ),
        tf AS (
            SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
        ),
        dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
        stats AS (
            SELECT count(*) AS n_docs,
                   CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl
            FROM dl
        ),
        dfreq AS (
            SELECT term, count(*) AS df FROM tf
            WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
            GROUP BY term
        ),
        scored AS (
            SELECT tf.doc_id,
                   CAST(SUM(CAST(
                   FLOOR(
                       ln(1.0 + ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE))
                                 + 0.5) / (CAST(df AS DOUBLE) + 0.5))
                       * ((CAST(tf AS DOUBLE) * {BM25_K1 + 1.0!r})
                          / (CAST(tf AS DOUBLE)
                             + {BM25_K1!r} * ({1.0 - BM25_B!r}
                                + ({BM25_B!r} * CAST(dl AS DOUBLE)) / avgdl)))
                       * 1000000000000.0 + 0.5)
                   AS BIGINT)) AS DOUBLE) / 1000000000000.0 AS score
            FROM tf
            JOIN dfreq USING (term)
            JOIN dl USING (doc_id)
            CROSS JOIN stats
            GROUP BY tf.doc_id
        )
        SELECT doc_id, CAST(rank AS INTEGER) AS rank, score FROM (
            SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
            FROM scored
        ) WHERE rank <= {BM25_TOPK}
    """,
    "corpus_source_mix": f"""
        WITH feats AS (
            SELECT source, md5({_NORM}) AS fp, {_FEATURES}
            FROM documents
        ),
        scored AS (
            SELECT source, fp, n_tokens,
                   distinct_ratio
                   * (CASE WHEN mean_token_len >= 3.0 AND mean_token_len <= 8.0
                           THEN 1.0 ELSE 0.5 END)
                   * (CASE WHEN stopword_ratio <= 0.5 THEN 1.0 ELSE 0.5 END)
                       AS quality
            FROM feats
        ),
        agg AS (
            SELECT source, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                   count(*) - count(DISTINCT fp) AS n_exact_dups,
                   CAST(SUM(CAST(FLOOR(quality * 1000000000.0 + 0.5)
                                 AS BIGINT)) AS DOUBLE)
                       / 1000000000.0 / count(*) AS mean_quality
            FROM scored GROUP BY source
        ),
        tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM agg)
        SELECT source, n_docs, n_tokens,
               CAST(n_tokens AS DOUBLE) / total AS token_share,
               n_exact_dups, mean_quality
        FROM agg, tot
    """,
    # Mirrors doc_importance_sample: same quality arithmetic, same hash
    # bucket and floor threshold.
    "doc_importance_sample": f"""
        WITH feats AS (
            SELECT doc_id, {_FEATURES}
            FROM documents
        ),
        scored AS (
            SELECT doc_id,
                   distinct_ratio
                   * (CASE WHEN mean_token_len >= 3.0 AND mean_token_len <= 8.0
                           THEN 1.0 ELSE 0.5 END)
                   * (CASE WHEN stopword_ratio <= 0.5 THEN 1.0 ELSE 0.5 END)
                       AS quality
            FROM feats
        )
        SELECT doc_id, quality FROM scored
        WHERE ({_ph_sql("CAST(doc_id AS VARCHAR)", 32)}) % {MIX_HASH_BUCKETS}
              < CAST(FLOOR(quality * {MIX_HASH_BUCKETS}) AS BIGINT)
    """,
    # Mirrors text_bigram_logprob: same bigram extraction (1-based i vs
    # 0-based: w[i], w[i+1] are the identical adjacent tokens), same MLE
    # ratio, ln argument order, and fixed-point per-doc mean.
    "text_bigram_logprob": f"""
        WITH t AS (
            SELECT doc_id, {_TOKENS} AS w FROM documents
            WHERE len({_TOKENS}) >= 2
        ),
        bg AS (
            SELECT doc_id, w[i] AS l, w[i+1] AS r
            FROM t, LATERAL (SELECT unnest(generate_series(1, len(w) - 1))
                             AS i) u
        ),
        c2 AS (SELECT l, r, count(*) AS n_lr FROM bg GROUP BY 1, 2),
        c1 AS (SELECT l, count(*) AS n_l FROM bg GROUP BY 1)
        SELECT doc_id, count(*) AS n_bigrams,
               CAST(SUM(CAST(FLOOR(
                   ln(CAST(n_lr AS DOUBLE) / CAST(n_l AS DOUBLE))
                   * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                   / 1000000000.0 / count(*) AS avg_logprob
        FROM bg JOIN c2 USING (l, r) JOIN c1 USING (l)
        GROUP BY doc_id
    """,
    # Mirrors text_pii_redact: same patterns, same replacement chain in
    # PII_ORDER (RE2 and Java regex agree on these class-based patterns).
    "text_pii_redact": """
        WITH raw AS (
            SELECT c_custkey,
                   concat_ws(' ', c_name,
                       'mail', concat('user', CAST(c_custkey AS VARCHAR),
                                      '@example.com'),
                       'tel', concat_ws('-',
                           CAST(c_custkey % 25 + 10 AS VARCHAR),
                           lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0'),
                           lpad(CAST(c_custkey * 7 % 1000 AS VARCHAR), 3, '0'),
                           lpad(CAST(c_custkey * 13 % 10000 AS VARCHAR), 4, '0')),
                       'ip', concat_ws('.',
                           CAST(c_custkey % 223 + 1 AS VARCHAR),
                           CAST(c_custkey * 3 % 256 AS VARCHAR),
                           CAST(c_custkey * 5 % 256 AS VARCHAR),
                           CAST(c_custkey * 7 % 256 AS VARCHAR)),
                       c_mktsegment) AS t
            FROM customer
        )
        SELECT c_custkey,
               __REDACT__ AS redacted,
               __COUNTS__
        FROM raw
    """,
    # Mirrors doc_chunk_tokens: same window/stride constants, same
    # tail-covering start sequence, 1-based inclusive slices on both
    # engines (Spark slice(start, length) vs DuckDB w[start:end]).
    "doc_chunk_tokens": f"""
        WITH t AS (SELECT doc_id, {_TOKENS} AS w FROM documents),
        s AS (
            SELECT doc_id, w,
                   unnest(generate_series(
                       1, greatest(1, len(w) - __WMS__), __STEP__)) AS start
            FROM t
        )
        SELECT doc_id,
               CAST((start - 1) // __STEP__ AS BIGINT) AS chunk_idx,
               array_to_string(
                   w[start:least(start + __WM1__, len(w))], ' ')
                   AS chunk_text,
               least(__WIN__, len(w) - start + 1) AS n_chunk_tokens
        FROM s
    """,
    "text_repetition": f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents
        ),
        per_tok AS (
            SELECT doc_id, tok, count(*) AS n FROM toks GROUP BY 1, 2
        )
        SELECT doc_id,
               max(n) AS top_token_n,
               CAST(sum(n) AS BIGINT) AS n_tokens,
               CAST(max(n) AS DOUBLE) / CAST(sum(n) AS BIGINT)
                   AS top_token_fraction
        FROM per_tok GROUP BY doc_id
    """,
    "text_decontaminate": f"""
        WITH {_shingle_cte("tsh", f"doc_id % {_BENCH_MOD} <> 0")},
        {_shingle_cte("bsh_full", f"doc_id % {_BENCH_MOD} = 0")},
        bsh AS (SELECT DISTINCT shingle FROM bsh_full),
        totals AS (
            SELECT doc_id, count(*) AS n_shingles FROM tsh GROUP BY doc_id
        ),
        hits AS (
            SELECT doc_id, count(*) AS n_contaminated
            FROM tsh JOIN bsh USING (shingle) GROUP BY doc_id
        )
        SELECT t.doc_id, t.n_shingles,
               coalesce(h.n_contaminated, 0) AS n_contaminated,
               CAST(coalesce(h.n_contaminated, 0) AS DOUBLE) / t.n_shingles
                   AS contamination_ratio
        FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id
    """,
    "corpus_prep_pipeline": f"""
        WITH feats AS (
            SELECT doc_id, md5({_NORM}) AS fp, len({_TOKENS}) AS n_tokens,
                   {_FEATURES}
            FROM documents
        ),
        scored AS (
            SELECT doc_id, fp, n_tokens,
                   distinct_ratio
                   * (CASE WHEN mean_token_len >= 3.0 AND mean_token_len <= 8.0
                           THEN 1.0 ELSE 0.5 END)
                   * (CASE WHEN stopword_ratio <= 0.5 THEN 1.0 ELSE 0.5 END)
                       AS quality
            FROM feats
        ),
        pwords AS (
            SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents
        ),
        pchunks AS (
            SELECT doc_id,
                   array_to_string(
                       w[i*{_PARA_W}+1 : i*{_PARA_W}+{_PARA_W}], ' ') AS passage
            FROM pwords,
                 LATERAL (SELECT unnest(generate_series(
                     0, CAST(ceil(len(w)/{_PARA_W}.0) - 1 AS BIGINT))) AS i) t
            WHERE len(w) > 0
        ),
        pfp AS (SELECT doc_id, md5(passage) AS f FROM pchunks),
        pdfc AS (SELECT f, count(DISTINCT doc_id) AS nd FROM pfp GROUP BY f),
        pfrac AS (
            SELECT p.doc_id,
                   CAST(count(*) FILTER (d.nd >= 2) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) AS dup_frac
            FROM pfp p JOIN pdfc d USING (f) GROUP BY p.doc_id
        ),
        kept AS (
            SELECT s.* FROM scored s JOIN pfrac pf USING (doc_id)
            WHERE s.quality >= 0.5 AND pf.dup_frac <= {_PARA_MAX}
        ),
        canon AS (
            SELECT doc_id, fp, n_tokens, quality FROM (
                SELECT *, min(doc_id) OVER (PARTITION BY fp) AS mn FROM kept
            ) WHERE doc_id = mn
        ),
        splits AS (
            SELECT doc_id, quality, n_tokens,
                   CASE WHEN bucket < 90 THEN 'train'
                        WHEN bucket < 95 THEN 'val'
                        ELSE 'test' END AS split
            FROM (
                SELECT *, CAST('0x' || substr(md5(fp), 1, 8) AS BIGINT) % 100
                           AS bucket
                FROM canon
            )
        ),
        cum AS (
            SELECT *, SUM(n_tokens) OVER (ORDER BY doc_id
                                          ROWS UNBOUNDED PRECEDING) - n_tokens
                       AS cum_excl
            FROM splits
        )
        SELECT doc_id, split, quality, n_tokens,
               CAST(FLOOR(cum_excl / 2048) AS BIGINT) AS pack_id
        FROM cum
    """,
    "text_stats": f"""
        SELECT doc_id, lang, {_FEATURES}
        FROM documents
    """,
    "text_lang_id": f"""
        WITH scored AS (
            SELECT doc_id, lang,
           {_SCORES}
            FROM documents
        )
        SELECT doc_id, lang, {_PRED_CASE} AS predicted_lang,
               ({_PRED_CASE}) = lang AS is_match
        FROM scored
    """,
    "text_quality": f"""
        WITH feats AS (SELECT doc_id, {_FEATURES} FROM documents)
        SELECT doc_id,
               distinct_ratio
               * (CASE WHEN mean_token_len >= 3.0 AND mean_token_len <= 8.0
                       THEN 1.0 ELSE 0.5 END)
               * (CASE WHEN stopword_ratio <= 0.5 THEN 1.0 ELSE 0.5 END)
                   AS quality
        FROM feats
    """,
    "text_fingerprint": f"""
        SELECT doc_id, md5({_NORM}) AS fingerprint,
               len({_TOKENS}) AS n_tokens,
               len(regexp_extract_all(lower(text),
                   '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_tokens
        FROM documents
    """,
    "text_top_tokens": f"""
        SELECT token, count(*) AS n
        FROM (SELECT unnest({_TOKENS}) AS token FROM documents)
        GROUP BY token
        ORDER BY n DESC, token
        LIMIT 50
    """,
    "text_top_bigrams": f"""
        WITH words AS (SELECT {_TOKENS} AS w FROM documents),
        bi AS (
            SELECT concat_ws(' ', w[i+1], w[i+2]) AS bigram
            FROM words,
                 LATERAL (SELECT unnest(generate_series(0, len(w) - 2)) AS i) t
            WHERE len(w) >= 2
        )
        SELECT bigram, count(*) AS n
        FROM bi GROUP BY bigram
        ORDER BY n DESC, bigram
        LIMIT 50
    """,
    "text_length_histogram": """
        SELECT CAST(FLOOR(n_chars / 100) * 100 AS BIGINT) AS len_bucket,
               count(*) AS n_docs
        FROM documents
        GROUP BY 1
    """,
    "doc_train_split": f"""
        WITH b AS (
            SELECT doc_id,
                   CAST('0x' || substr(md5(md5({_NORM})), 1, 8) AS BIGINT) % 100
                       AS bucket
            FROM documents
        )
        SELECT doc_id,
               CASE WHEN bucket < 90 THEN 'train'
                    WHEN bucket < 95 THEN 'val'
                    ELSE 'test' END AS split
        FROM b
    """,
    "doc_stratified_sample": """
        SELECT doc_id, lang FROM (
            SELECT doc_id, lang,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                                     AS BIGINT),
                                doc_id) AS rk
            FROM documents
        ) WHERE rk <= 20
    """,
    "doc_pack_contiguous": f"""
        WITH sized AS (SELECT doc_id, len({_TOKENS}) AS n_tokens FROM documents),
        cum AS (
            SELECT doc_id, n_tokens,
                   SUM(n_tokens) OVER (ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING) - n_tokens
                       AS cum_excl
            FROM sized
        )
        SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
               CAST(FLOOR(cum_excl / 2048) AS BIGINT) AS pack_id,
               CAST(cum_excl AS BIGINT) AS pack_offset
        FROM cum
    """,
}


def _pii_redact_expr(col: str) -> str:
    # Built by substitution, not f-string literals: the regex bounded
    # repetitions ({1,3}, {2,}) would read as format fields.
    out = col
    for name in T.PII_ORDER:
        pat, rep = T.PII_PATTERNS[name]
        out = f"regexp_replace({out}, '{pat}', '{rep}', 'g')"
    return out


_PII_COUNTS = ",\n               ".join(
    f"len(regexp_extract_all(t, '{T.PII_PATTERNS[name][0]}')) AS n_{alias}"
    for name, alias in (("email", "email"), ("ipv4", "ipv4"), ("phone", "phone"))
)
ORACLES["text_pii_redact"] = (
    ORACLES["text_pii_redact"]
    .replace("__REDACT__", _pii_redact_expr("t"))
    .replace("__COUNTS__", _PII_COUNTS)
)
ORACLES["doc_chunk_tokens"] = (
    ORACLES["doc_chunk_tokens"]
    .replace("__WMS__", str(CHUNK_WINDOW - CHUNK_STEP))
    .replace("__WM1__", str(CHUNK_WINDOW - 1))
    .replace("__STEP__", str(CHUNK_STEP))
    .replace("__WIN__", str(CHUNK_WINDOW))
)


def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc zlib compression ratio (operators/text.compression_signals)
    — the repetitive-boilerplate / binary-junk quality filter. zlib has no
    SQL codec, so the DuckDB twin joins a precomputed fixture of expected
    deflate lengths keyed by md5(text) (tools/make_zlib_fixture.py —
    direct stdlib ground truth, independent of this operator's
    mapInPandas plumbing) and recomputes n_bytes + ratio in SQL; exact
    values are additionally pinned against direct stdlib calls in
    tests/test_operators.py."""
    from icenetetl_spark.operators.text import compression_signals

    return compression_signals(load_table(spark, sf_dir, "documents"))


QUERIES["text_compression_ratio"] = text_compression_ratio

import os as _os  # noqa: E402

# queries/text.py -> queries -> icenetetl_spark -> repo root
_ZLIB_FIXTURE = _os.path.join(
    _os.path.dirname(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    ),
    "fixtures",
    "zlib_signals.parquet",
)

# n_bytes and the ratio are recomputed in SQL (octet_length of the UTF-8
# encoding; IEEE double division matches Python's int/int true division);
# only the deflate LENGTH comes from the fixture. An unknown text drops
# from the inner join -> row-count mismatch, never a silent pass.
ORACLES["text_compression_ratio"] = f"""
    SELECT d.doc_id,
           octet_length(encode(d.text)) AS n_bytes,
           f.n_compressed_fx AS n_compressed,
           CAST(octet_length(encode(d.text)) AS DOUBLE)
               / CAST(f.n_compressed_fx AS DOUBLE) AS compression_ratio
    FROM documents d
    JOIN '{_ZLIB_FIXTURE}' f ON md5(d.text) = f.text_md5
"""


# Negative sampling for contrastive/retrieval training: k pseudo-random
# negatives per query doc, deterministic (Knuth multiplicative constant),
# with near-duplicates of the query EXCLUDED (a near-dup labeled negative
# poisons the loss). Sampling by arithmetic on ids: zero shuffles for
# candidate GENERATION; the existence check and the near-dup exclusion are
# the only joins.
NEG_QUERIES = 10
NEG_K = 5
NEG_MULT = 2654435761  # Knuth 2^32 golden-ratio constant (public)
NEG_STRIDE = 40503


def doc_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neg_id, slot): k deterministic negatives per query doc,
    skipping self-pairs and MinHash-LSH near-duplicates of the query.
    Candidate ids are arithmetic over a dense id space modulo max_id+1;
    the inner join against documents drops any id gaps."""
    from icenetetl_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.max("doc_id").alias("mx")).collect()[0]["mx"] + 1
    queries = docs.select("doc_id").filter(F.col("doc_id") < NEG_QUERIES)
    slots = F.explode(F.sequence(F.lit(1), F.lit(NEG_K))).alias("slot")
    cand = queries.select(
        F.col("doc_id").alias("query_id"), slots
    ).withColumn(
        "neg_id",
        (
            F.col("query_id") * F.lit(NEG_MULT)
            + F.col("slot") * F.lit(NEG_STRIDE)
        )
        % F.lit(int(n)),
    )
    cand = cand.filter(F.col("neg_id") != F.col("query_id")).join(
        docs.select(F.col("doc_id").alias("neg_id")), "neg_id"
    )
    sigs = D.minhash_signatures(
        D.word_shingles(docs, n=3), 16
    )
    near = D.lsh_candidate_pairs(sigs, 16, 4)
    sym = near.select(
        F.col("doc_a").alias("query_id"), F.col("doc_b").alias("neg_id")
    ).unionByName(
        near.select(
            F.col("doc_b").alias("query_id"), F.col("doc_a").alias("neg_id")
        )
    )
    return cand.join(sym, ["query_id", "neg_id"], "leftanti").select(
        "query_id", "neg_id", "slot"
    )


QUERIES["doc_negative_pairs"] = doc_negative_pairs


def _neg_pairs_oracle() -> str:
    from icenetetl_spark.queries.dedup import (
        _SHINGLES_CTE,
        _banded_sql,
        _minhash_sig_sql,
    )

    return f"""
        WITH {_SHINGLES_CTE},
        {_minhash_sig_sql()},
        banded AS ({_banded_sql()}),
        near AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b
              ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
             AND a.doc_id < b.doc_id
        ),
        sym AS (
            SELECT doc_a AS query_id, doc_b AS neg_id FROM near
            UNION ALL
            SELECT doc_b, doc_a FROM near
        ),
        n AS (SELECT MAX(doc_id) + 1 AS mx FROM documents),
        cand AS (
            SELECT q.doc_id AS query_id, s.slot,
                   (q.doc_id * {NEG_MULT} + s.slot * {NEG_STRIDE})
                       % n.mx AS neg_id
            FROM documents q,
                 (SELECT unnest(generate_series(1, {NEG_K})) AS slot) s,
                 n
            WHERE q.doc_id < {NEG_QUERIES}
        )
        SELECT c.query_id, c.neg_id, CAST(c.slot AS INTEGER) AS slot
        FROM cand c
        JOIN documents d ON d.doc_id = c.neg_id
        WHERE c.neg_id <> c.query_id
          AND NOT EXISTS (
              SELECT 1 FROM sym
              WHERE sym.query_id = c.query_id AND sym.neg_id = c.neg_id
          )
    """


ORACLES["doc_negative_pairs"] = _neg_pairs_oracle()


TOPFRAC_KEEP = 0.5


def corpus_quality_topfrac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified quality filtering: within each source, keep the top
    TOPFRAC_KEEP fraction of documents by quality score (percent_rank
    over a per-source window with a deterministic doc_id tiebreak —
    never a global sort). Output is the per-source report (kept counts +
    quality floor of the kept set), the shape a curation run logs."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source", "doc_id", T.quality_score(F.col("text")).alias("quality")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    ranked = scored.withColumn("pr", F.percent_rank().over(w))
    kept = ranked.filter(F.col("pr") <= F.lit(TOPFRAC_KEEP))
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("quality").alias("quality_floor"),
        )
        .join(
            F.broadcast(
                scored.groupBy("source").agg(
                    F.count(F.lit(1)).alias("n_docs")
                )
            ),
            "source",
        )
        .select("source", "n_docs", "n_kept", "quality_floor")
    )


QUERIES["corpus_quality_topfrac"] = corpus_quality_topfrac


ORACLES["corpus_quality_topfrac"] = f"""
    WITH feats AS (SELECT doc_id, source, {_FEATURES} FROM documents),
    scored AS (
        SELECT doc_id, source,
               distinct_ratio
               * (CASE WHEN mean_token_len >= 3.0 AND mean_token_len <= 8.0
                       THEN 1.0 ELSE 0.5 END)
               * (CASE WHEN stopword_ratio <= 0.5 THEN 1.0 ELSE 0.5 END)
                   AS quality
        FROM feats
    ),
    ranked AS (
        SELECT source, doc_id, quality,
               percent_rank() OVER (
                   PARTITION BY source
                   ORDER BY quality DESC, doc_id) AS pr
        FROM scored
    ),
    kept AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
               MIN(quality) AS quality_floor
        FROM ranked WHERE pr <= {TOPFRAC_KEEP}
        GROUP BY source
    ),
    totals AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM scored GROUP BY source
    )
    SELECT k.source, t.n_docs, k.n_kept, k.quality_floor
    FROM kept k JOIN totals t USING (source)
"""


SHUFFLE_SALT = "epoch7:"


def doc_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-salted global shuffle — the training-order
    permutation step of a data pipeline (each epoch re-salts and the whole
    corpus re-permutes reproducibly; any worker can recompute any
    position). position = rank of md5(salt || doc_id), assigned WITHOUT a
    single-partition ``row_number() OVER (ORDER BY ...)`` window:
    ``sequential_id``'s distributed prefix sum range-partitions on the
    hash key and adds k-row per-partition offsets, so the permutation of
    a 100 TB corpus never funnels through one task. Hash-gated: the
    oracle ranks the identical md5 keys."""
    from icenetetl_spark.operators.sampling import sequential_id

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.withColumn(
        "shuffle_key",
        F.md5(F.concat(F.lit(SHUFFLE_SALT), F.col("doc_id").cast("string"))),
    )
    return sequential_id(
        keyed, ["shuffle_key", "doc_id"], id_col="position"
    ).select("doc_id", "shuffle_key", "position")


QUERIES["doc_global_shuffle"] = doc_global_shuffle

# training-shard fan-out shared with sources/shards.py's sink
N_SHARDS = 8


def doc_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard manifest of the training-shard sink
    (sources/shards.assign_shards): round-robin over the epoch-salted
    global-shuffle positions balances shards to within ONE row by
    construction — the gate's n_docs column is the proof, and min/max
    position + char volume give the trainer-visible contract. The same
    assignment drives write_training_shards' partitioned write; the oracle
    replays position and shard from the identical md5 ranking."""
    from icenetetl_spark.sources.shards import assign_shards

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    sh = assign_shards(docs, N_SHARDS, SHUFFLE_SALT)
    return sh.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("position").alias("min_pos"),
        F.max("position").alias("max_pos"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


QUERIES["doc_shard_manifest"] = doc_shard_manifest

ORACLES["doc_shard_manifest"] = f"""
    WITH pos AS (
        SELECT doc_id, n_chars,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY md5('{SHUFFLE_SALT}' || CAST(doc_id AS VARCHAR)),
                            doc_id) AS BIGINT) AS position
        FROM documents
    )
    SELECT CAST((position - 1) % {N_SHARDS} AS INT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(position) AS min_pos,
           MAX(position) AS max_pos,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM pos
    GROUP BY 1
"""

ORACLES["doc_global_shuffle"] = f"""
    SELECT doc_id,
           md5('{SHUFFLE_SALT}' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
           CAST(ROW_NUMBER() OVER (
               ORDER BY md5('{SHUFFLE_SALT}' || CAST(doc_id AS VARCHAR)),
                        doc_id) AS BIGINT) AS position
    FROM documents
"""


# --- weighted source mixture + token-budget head (round 8) -----------------

MIX_WEIGHTS = {
    "src0": 2.5,   # upsample: 2 full epochs + deterministic half
    "src1": 2.0,   # exact integer upsampling
    "src2": 1.5,
    "src3": 0.5,   # downsample
    "src4": 0.25,
    "src5": 0.0,   # drop the source entirely
    # every other source: default weight 1.0 (passthrough)
}
TOKEN_BUDGET = 30_000  # chars — ~20% of the sf0.01 corpus


def doc_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized training-data recipe (the Pile / LLaMA-style source
    reweighting): per-source epoch repetition + deterministic fractional
    subsets via hash ranking (operators/sampling.source_mixture). Output
    is one row per (doc, epoch copy)."""
    from icenetetl_spark.operators.sampling import source_mixture

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return source_mixture(docs, "source", MIX_WEIGHTS, "doc_id")


def doc_token_budget_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~30k-char slice of the hash-shuffled corpus: rows kept
    while the exclusive running char count is under budget (boundary row
    included), with the inclusive running total returned. Distributed
    prefix sum — never a single-partition global window
    (operators/sampling.token_budget_head)."""
    from icenetetl_spark.operators.sampling import token_budget_head

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return token_budget_head(docs, "n_chars", TOKEN_BUDGET, "doc_id")


QUERIES["doc_source_mixture"] = doc_source_mixture
QUERIES["doc_token_budget_head"] = doc_token_budget_head


def _mix_weight_case() -> str:
    from icenetetl_spark.queries.text import MIX_WEIGHTS  # self, for clarity

    # CAST each weight to DOUBLE: a bare literal like 0.3 parses as DECIMAL
    # in DuckDB while Spark computes the fractional target in DOUBLE, and
    # FLOOR((w - FLOOR(w)) * n_s + 0.5) can differ by 1 between the two
    # arithmetics for non-dyadic weights (ADVICE r8). All current
    # MIX_WEIGHTS are dyadic, but the oracle must mirror Spark's arithmetic
    # for ANY weight.
    arms = " ".join(
        f"WHEN '{s}' THEN CAST({w} AS DOUBLE)"
        for s, w in sorted(MIX_WEIGHTS.items())
    )
    return f"CASE source {arms} ELSE CAST(1.0 AS DOUBLE) END"


ORACLES["doc_source_mixture"] = f"""
    WITH ranked AS (
        SELECT doc_id, source,
               {_mix_weight_case()} AS w,
               row_number() OVER (PARTITION BY source ORDER BY
                   {_ph_sql("CAST(doc_id AS VARCHAR)", 32)},
                   doc_id) AS rk,
               count(*) OVER (PARTITION BY source) AS n_s
        FROM documents
    ),
    sel AS (
        SELECT doc_id, source,
               CAST(FLOOR(w) AS BIGINT)
                   + CASE WHEN rk <= FLOOR((w - FLOOR(w)) * n_s + 0.5)
                          THEN 1 ELSE 0 END AS copies
        FROM ranked
    )
    SELECT doc_id, source, CAST(e AS INT) AS epoch
    FROM sel, unnest(generate_series(0, CAST(copies AS INT) - 1)) AS t(e)
    WHERE copies > 0
"""

ORACLES["doc_token_budget_head"] = f"""
    WITH h AS (
        SELECT doc_id, n_chars,
               {_ph_sql("CAST(doc_id AS VARCHAR)", 32)} AS hh
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_chars,
               SUM(CAST(n_chars AS BIGINT)) OVER (
                   ORDER BY hh, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_end
        FROM h
    )
    SELECT doc_id, n_chars, CAST(cum_end AS BIGINT) AS cum_end
    FROM c WHERE cum_end - n_chars < {TOKEN_BUDGET}
"""
