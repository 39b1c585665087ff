"""Distributed BPE (byte-pair-encoding) tokenizer training and encoding.

Implements the Sennrich et al. (ACL 2016, public) algorithm Spark-first:

- The corpus is scanned ONCE to build the word-frequency table (the only
  data-sized shuffle). All subsequent work — the merge loop — operates on
  the vocab-sized table, which is persisted and bounded by |distinct
  pretokens|, not corpus size. This is exactly how single-node BPE trainers
  scale (HuggingFace `tokenizers` trains on word counts, not raw text), so
  the 100 TB story is: one corpus pass, then O(vocab) per merge.
- Each merge step runs two vocab-sized jobs: an adjacent-pair count
  (arrays_zip over the symbol arrays, explode, sum of word freq) whose
  argmax is a 1-row collect (O(1) model state on the driver, same pattern
  as operators/pq.fit_pq_codebooks_lloyd), and a symbol-array rewrite expressed
  as a JVM higher-order fold (F.aggregate) — greedy left-to-right merge
  with correct run semantics ("aaaa" + (a,a) -> [aa, aa]), zero Python in
  the data path.
- Encoding applies the learned merges in training order. Two variants:
  `apply_merges` chains one fold per merge (all-JVM; right for the bounded
  merge lists used in queries), and `encode_arrow` runs the same algorithm
  over Arrow batches in mapInPandas for production-sized merge tables
  where a thousand-deep expression tree would defeat codegen.

Reference parity: the reference repo (alan-turing-institute/IceNetETL)
has no tokenizer; this extends the engine for LLM-corpus preparation the
way SURVEY.md's extension mandate describes. End-of-word marker `</w>`
follows the original paper so merged subwords never span word boundaries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from icenetetl_spark.operators.text import bpe_tokens

END_OF_WORD = "</w>"


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One corpus scan -> (word, freq). The explode happens before the
    groupBy so the shuffle carries (pretoken, partial count) pairs —
    map-side combine collapses repeats within a partition."""
    return (
        docs.select(
            F.explode(bpe_tokens(F.col(text_col))).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def symbolize(word: Column) -> Column:
    """Initial symbol array: characters plus the end-of-word marker."""
    return F.concat(F.split(word, ""), F.array(F.lit(END_OF_WORD)))


def pair_counts(vocab: DataFrame, syms_col: str = "syms") -> DataFrame:
    """Adjacent-symbol pair counts weighted by word frequency.

    arrays_zip(syms[:-1], syms[1:]) keeps the pairing in-row (no join, no
    index explode); the only exchange is the final (left, right) groupBy.
    """
    s = F.col(syms_col)
    n = F.size(s)
    zipped = F.arrays_zip(
        F.slice(s, F.lit(1), n - F.lit(1)).alias("left_sym"),
        F.slice(s, F.lit(2), n - F.lit(1)).alias("right_sym"),
    )
    return (
        vocab.select(F.col("freq"), F.explode(zipped).alias("p"))
        .groupBy(
            F.col("p.left_sym").alias("left_sym"),
            F.col("p.right_sym").alias("right_sym"),
        )
        .agg(F.sum("freq").alias("pair_count"))
    )


def merge_pair(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right merge of one (left, right) pair inside a symbol
    array, as a JVM fold. The accumulator is the rewritten prefix; each
    incoming symbol either completes a pair with the accumulator's tail
    (replace tail with the merged symbol) or is appended. Because the
    merged symbol differs from `left` as a string, a run like "aaaa" under
    (a, a) merges to [aa, aa] — the standard simultaneous-merge semantics.
    """
    merged = left + right
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, F.lit(-1)) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - F.lit(1)),
                F.array(F.lit(merged)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def fit_bpe(
    docs: DataFrame,
    num_merges: int,
    text_col: str = "text",
    min_count: int = 2,
    cache_key: tuple | str | None = None,
) -> list[dict]:
    """Learn `num_merges` BPE merges from the corpus.

    Returns the merge table as a list of dicts (step, left, right, merged,
    pair_count) — O(num_merges) driver state, like a trained quantizer's
    centroids. Ties on pair count break deterministically by (left, right)
    lexicographic order so reruns produce identical tokenizers.

    ONE job per merge: each iteration's argmax collect is also what
    materializes the previous iteration's rewritten (persisted) vocab, so
    the per-step plan is a cache scan plus one fold — no separate
    materialization job, and lineage never accumulates across merges (the
    previous cache is only unpersisted after its successor is populated).

    ``cache_key``, when given, must uniquely identify the corpus FRAME
    (the kmeans.lloyd_fit contract): the merge table is then memoized in
    the session (kmeans.memoized_fit), so every consumer construction
    after the first skips the one-job-per-merge fit. The key also folds
    the corpus' content signature, so a regenerated corpus refits. The
    caller's key is required because corpus_signature sees only
    inputFiles(), not the plan: two different frames over the same parquet
    (a filtered subset of documents, say) would otherwise collide and
    serve merges trained on other data. ``cache_key=None`` (the default)
    always fits. Callers get their own copy of the memoized table.
    """
    from icenetetl_spark.operators.kmeans import memoized_fit

    merges = memoized_fit(
        "bpe",
        docs,
        cache_key,
        (num_merges, text_col, min_count),
        lambda: _fit_merges(docs, num_merges, text_col, min_count),
    )
    return [dict(m) for m in merges]


def _fit_merges(
    docs: DataFrame, num_merges: int, text_col: str, min_count: int
) -> list[dict]:
    """The fit behind :func:`fit_bpe`."""
    vocab = (
        word_freqs(docs, text_col)
        .withColumn("syms", symbolize(F.col("word")))
        .select("freq", "syms")
        .persist()
    )
    prev = None
    merges: list[dict] = []
    try:
        for step in range(num_merges):
            top = (
                pair_counts(vocab)
                .orderBy(
                    F.col("pair_count").desc(), "left_sym", "right_sym"
                )
                .limit(1)
                .collect()
            )
            # the collect above materialized `vocab`'s cache; its input
            # cache is now safe to drop
            if prev is not None:
                prev.unpersist()
                prev = None
            if not top or top[0]["pair_count"] < min_count:
                break
            left, right, cnt = (
                top[0]["left_sym"],
                top[0]["right_sym"],
                int(top[0]["pair_count"]),
            )
            merges.append(
                {
                    "step": step,
                    "left": left,
                    "right": right,
                    "merged": left + right,
                    "pair_count": cnt,
                }
            )
            new_vocab = vocab.withColumn(
                "syms", merge_pair(F.col("syms"), left, right)
            ).persist()
            prev, vocab = vocab, new_vocab
    finally:
        vocab.unpersist()
        if prev is not None:
            prev.unpersist()
    return merges


def apply_merges(syms: Column, merges: list[dict]) -> Column:
    """Encode: apply the learned merges in training order (the Sennrich
    definition of BPE encoding), one JVM fold per merge. Intended for
    bounded merge lists; for production vocabularies use encode_arrow."""
    c = syms
    for m in merges:
        c = merge_pair(c, m["left"], m["right"])
    return c


def _merge_word(symbols: list[str], merges: list[tuple[str, str]]) -> list[str]:
    """Row-local reference of the same semantics (used by encode_arrow)."""
    for left, right in merges:
        out: list[str] = []
        for x in symbols:
            if out and out[-1] == left and x == right:
                out[-1] = left + right
            else:
                out.append(x)
        symbols = out
    return symbols


def encode_arrow(
    docs: DataFrame,
    merges: list[dict],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Arrow-batched encode for production-sized merge tables: the merge
    list is closed over (driver-broadcast with the serialized function,
    O(vocab) bytes), each batch is encoded in Python with a per-word memo
    cache — the Zipfian repeat structure of text makes the cache hit rate
    dominate. Output: (id_col, tokens array, n_tokens)."""
    import re

    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from icenetetl_spark.operators.text import BPE_TOKEN_PATTERN

    pairs = [(m["left"], m["right"]) for m in merges]
    pat = re.compile(BPE_TOKEN_PATTERN)
    id_field = docs.schema[id_col]
    schema = StructType(
        [
            StructField(id_col, id_field.dataType, True),
            StructField("tokens", ArrayType(StringType()), True),
            StructField("n_tokens", IntegerType(), True),
        ]
    )

    def encode_batches(batches):
        import pandas as pd

        memo: dict[str, list[str]] = {}

        def encode_word(w: str) -> list[str]:
            hit = memo.get(w)
            if hit is None:
                hit = memo[w] = _merge_word(list(w) + [END_OF_WORD], pairs)
            return hit

        for pdf in batches:
            toks = [
                [
                    t
                    for w in pat.findall(str(text).lower())
                    for t in encode_word(w)
                ]
                for text in pdf[text_col]
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "tokens": toks,
                    "n_tokens": [len(t) for t in toks],
                }
            )

    return docs.select(id_col, text_col).mapInPandas(encode_batches, schema)
