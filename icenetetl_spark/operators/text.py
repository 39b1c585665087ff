"""Text-analysis operators for training-data curation: token counting,
language identification, quality scoring, fingerprinting.

All pure JVM-side column expressions (split / array lambdas / replace) — no
Python UDFs in the hot path, so the plans stay inside whole-stage codegen and
scale linearly with input. Every expression is engine-portable so the DuckDB
oracle reproduces values exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from icenetetl_spark.operators.dedup import normalize_text

# Tiny marker-word inventories per language — the n-gram-free heuristic:
# score(lang) = #tokens that are marker words of lang. Deliberately small so
# the oracle SQL mirrors them verbatim.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "la", "los", "y", "es"),
    "zh": ("de", "shi", "le", "he", "zai"),
}

STOPWORDS: tuple[str, ...] = (
    "the", "a", "of", "and", "is", "to", "in", "that", "it", "on",
)


def tokens(text: Column) -> Column:
    """Whitespace tokens of the normalized text."""
    return F.split(normalize_text(text), " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


# BPE-pretokenizer-style pattern: letter runs | digit runs | single
# non-alnum marks (the GPT-2 pretokenizer shape, simplified to a class-based
# regex whose semantics are identical under Java regex and RE2 — important
# because the DuckDB oracle uses RE2).
BPE_TOKEN_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def bpe_tokens(text: Column) -> Column:
    """Subword-style pretokens of the lowercased text (regex runs)."""
    return F.regexp_extract_all(F.lower(text), F.lit(BPE_TOKEN_PATTERN), F.lit(0))


def bpe_token_count(text: Column) -> Column:
    return F.size(bpe_tokens(text))


def _count_in(arr: Column, vocab: tuple[str, ...]) -> Column:
    vocab_arr = F.array(*[F.lit(w) for w in vocab])
    return F.size(F.filter(arr, lambda w: F.array_contains(vocab_arr, w)))


def marker_scores(text: Column) -> dict[str, Column]:
    t = tokens(text)
    return {lang: _count_in(t, words) for lang, words in LANG_MARKERS.items()}


def predict_language(text: Column) -> Column:
    """argmax over marker-word counts; ties resolved by fixed lang order
    (greatest-so-far keeps the earlier language), 'und' (undetermined) when
    no marker hits at all.

    NOTE: this single-Column form re-derives the token split inside every
    branch — convenient for ad-hoc use, but in a hot path stage the scores
    first (one projection) and finish with
    :func:`predict_language_from_scores`; measured ~10x cheaper at sf0.1.
    """
    scores = marker_scores(text)
    return predict_language_from_scores({l: scores[l] for l in LANG_MARKERS})


def predict_language_from_scores(scores: dict[str, Column]) -> Column:
    """argmax CASE over already-computed marker-count columns; earliest
    language in LANG_MARKERS order wins ties, 'und' when all scores are 0."""
    mx = F.greatest(*[scores[lang] for lang in LANG_MARKERS])
    pred = F.lit("und")
    # build WHEN chain in reverse so the earliest language is checked first
    chain = F.when(mx == 0, F.lit("und"))
    for lang in LANG_MARKERS:
        chain = chain.when(scores[lang] == mx, F.lit(lang))
    return chain.otherwise(pred)


def quality_features(text: Column) -> dict[str, Column]:
    """Deterministic quality signals; all ratios are double divisions of
    integer counts (engine-exact)."""
    t = tokens(text)
    n_tokens = F.size(t)
    n_distinct = F.size(F.array_distinct(t))
    n_chars_nospace = F.length(F.regexp_replace(text, r"\s+", ""))
    n_stop = _count_in(t, STOPWORDS)
    return {
        "n_tokens": n_tokens,
        "distinct_ratio": n_distinct.cast("double") / n_tokens,
        "mean_token_len": n_chars_nospace.cast("double") / n_tokens,
        "stopword_ratio": n_stop.cast("double") / n_tokens,
    }


def quality_score(text: Column) -> Column:
    """Composite [0,1]-ish score: favors lexical diversity, mid-length
    tokens, and a nonzero-but-bounded stopword rate. Integer-count based —
    portable."""
    f = quality_features(text)
    len_ok = F.when(
        (f["mean_token_len"] >= 3.0) & (f["mean_token_len"] <= 8.0), 1.0
    ).otherwise(0.5)
    stop_ok = F.when(f["stopword_ratio"] <= 0.5, 1.0).otherwise(0.5)
    return (f["distinct_ratio"] * len_ok * stop_ok).alias("quality")


def fingerprint(text: Column) -> Column:
    """Content fingerprint: md5 of the normalized text (exact-dup key; the
    rolling-hash variant for shingle-level matching lives in
    operators.dedup.word_shingles + portable_hash64)."""
    return F.md5(normalize_text(text))


# PII scrubbing — the standard pre-training redaction pass (emails, IPv4,
# dashed phone numbers). Patterns use only character classes, bounded
# repetition and \b, whose semantics are identical under Java regex (Spark)
# and RE2 (DuckDB oracle) — no lookaround, no backreferences.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    # name -> (pattern, replacement token)
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    # TPC-H customer/supplier phone shape: CC-XXX-XXX-XXXX
    "phone": (r"\b[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}\b", "<PHONE>"),
}

# Redaction order matters (ipv4 before phone would not overlap here, but fix
# it anyway so Spark and the oracle apply the identical chain).
PII_ORDER: tuple[str, ...] = ("email", "ipv4", "phone")


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-category match counts on the RAW text (pre-redaction)."""
    return {
        name: F.regexp_count(text, F.lit(PII_PATTERNS[name][0]))
        for name in PII_ORDER
    }


def redact_pii(text: Column) -> Column:
    """Replace every PII match with its category token, applied in
    PII_ORDER. Each step is a single JVM regexp_replace — no Python."""
    out = text
    for name in PII_ORDER:
        pat, rep = PII_PATTERNS[name]
        out = F.regexp_replace(out, pat, rep)
    return out


def token_chunks(
    toks: Column, window: int, step: int
) -> tuple[Column, Column]:
    """Overlapping fixed-size token windows — the RAG / context-packing
    chunker. Returns ``(starts, chunk_fn)`` where ``starts`` is the 1-based
    array of chunk start offsets (stride ``step``; the final window may be
    shorter than ``window`` but every token is covered), and
    ``chunk_fn(start)`` yields the chunk's token slice.

    Pure array arithmetic (sequence + slice): the chunk explosion happens
    inside whole-stage codegen and parallelizes with the document scan —
    no shuffle is introduced by chunking itself.
    """
    if not (0 < step <= window):
        raise ValueError(f"need 0 < step <= window, got {window=} {step=}")
    n = F.size(toks)
    # Largest start L in the arithmetic sequence satisfies L <= n-window+step,
    # so L+window-1 >= n: the tail is always covered.
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.lit(1), n - F.lit(window - step)),
        F.lit(step),
    )
    return starts, (lambda start: F.slice(toks, start, window))


def repetition_signals(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Per-document repetition signal: the fraction of all tokens taken by
    the single most frequent token (Gopher-style "fraction of characters in
    most common n-gram" family, n=1). High values flag degenerate/spammy
    documents a quality gate should drop.

    Plan: explode tokens -> count per (doc, token) -> per-doc max/sum. Two
    hash aggregations, the second a map-side-combinable rollup of the first
    (both keyed by doc_id) — fully distributed, no skew risk beyond a single
    pathological document, which is exactly the thing being measured.
    Reporting only the fraction (not the winning token) keeps the output
    deterministic under count ties.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    per_tok = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("n"))
    return per_tok.groupBy("doc_id").agg(
        F.max("n").alias("top_token_n"),
        F.sum("n").alias("n_tokens"),
        (F.max("n").cast("double") / F.sum("n")).alias("top_token_fraction"),
    )


def contamination(
    train,
    benchmark,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Benchmark decontamination: per training document, how many of its
    distinct word n-gram shingles also occur anywhere in the benchmark set
    (the standard eval-overlap check run before pretraining — docs with
    nonzero overlap are quarantined or dropped).

    Plan: ONE pass over the training shingles — left join against the
    DISTINCT benchmark shingle set (marker column), then a single
    groupBy(doc_id) counting rows and markers together. Benchmark suites
    are small relative to the corpus, so the marked set is broadcast:
    each training shingle is touched exactly once and the only
    corpus-side shuffle is the final per-doc aggregation. Clean documents
    keep n_contaminated = 0 (left-join semantics, count of a null marker
    is 0).
    """
    from icenetetl_spark.operators.dedup import word_shingles

    tsh = word_shingles(train, n=n, id_col=id_col, text_col=text_col)
    bsh = (
        word_shingles(benchmark, n=n, id_col=id_col, text_col=text_col)
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        tsh.join(F.broadcast(bsh), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("__hit").alias("n_contaminated"),
        )
        .withColumn(
            "contamination_ratio",
            F.col("n_contaminated").cast("double") / F.col("n_shingles"),
        )
    )


def compression_signals(
    docs, id_col: str = "doc_id", text_col: str = "text", level: int = 6
):
    """Compression-ratio quality signal (the CCNet/Gopher-family filter:
    highly compressible text is repetitive boilerplate, incompressible
    text is often noise/binary junk): per doc, the zlib-compressed size
    of the UTF-8 text at a FIXED level and the ratio raw/compressed.

    zlib output for a given (input, level) is deterministic, so the
    operator is rerun-stable and exactly testable against direct
    stdlib calls — but not SQL-expressible (no DuckDB codec UDF), so the
    registry entry is rows-only with the pytest exact gate. Arrow-batched
    mapInPandas; output is metadata-sized (two ints + ratio per doc)."""
    import zlib as _zlib

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    id_field = docs.schema[id_col]
    schema = StructType(
        [
            StructField(id_col, id_field.dataType, True),
            StructField("n_bytes", LongType(), True),
            StructField("n_compressed", LongType(), True),
            StructField("compression_ratio", DoubleType(), True),
        ]
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            raw = [str(t).encode("utf-8") for t in pdf[text_col]]
            comp = [len(_zlib.compress(b, level)) for b in raw]
            nb = [len(b) for b in raw]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": nb,
                    "n_compressed": comp,
                    "compression_ratio": [
                        (b / c) if c else 0.0 for b, c in zip(nb, comp)
                    ],
                }
            )

    return docs.select(id_col, text_col).mapInPandas(run, schema)
