"""Second-decade spot check: the 10x stress (tools/scale_stress.py) one
decade further, for a subset of queries whose tables stay buildable at
100x on this host (documents / embeddings / events only — the TPC-H fact
tables at 100x would be a multi-GB write that measures the disk, not the
plans).

Same perturbation, same measurement (interleaved 1x/100x reps with one
dropped warmup per (query, size), median wall over --runs, noop sink,
exchange counts from the physical plan). Results are APPENDED to
SCALING.md as a hand-maintained section (scale_stress.py preserves
everything from the first "## " heading on).

Usage: python tools/scale_spot.py [--factor 100] [--runs 2]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from icenetetl_spark.session import get_spark  # noqa: E402
from icenetetl_spark.sources.testdata import load_table  # noqa: E402
from tools.scale_stress import (  # noqa: E402
    BASE_SF,
    DESIGNED_ADAPTATIONS,
    _copies,
    _perturb_text,
    measure_sizes,
    plan_shape_summary,
)

SPOT_QUERIES = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_bm25_topk",
    "bpe_encode_fixed",
    "knn_bruteforce",
    "ev_window_rollup",
    "ev_sessionize",
    # round-7: the hot-user sessionize lever (bounded per-task state must
    # show up as a ratio <= the window plan's as volume grows) and the
    # distributed-prefix-sum global shuffle (range exchange + k-row offset
    # broadcast; a single-partition window would serialize at 100x)
    "ev_sessionize_window",
    "doc_global_shuffle",
    # round-7: components-first dedup at the second decade — the claim
    # that the exact-duplicate quotient / df-capped pair stage bounds
    # super-linear work is only evidence if it holds where pair output
    # would otherwise be ~10,000x the base (mm_image_dhash_pairs' fate)
    "dedup_groups",
    "mm_image_dup_groups",
    # round-8 (VERDICT r7 #6): the retrieval family at the second decade —
    # text_bm25_topk (above) was skew-tested but not volume-tested, and
    # hybrid fuses it with the vector arm, so both belong here; plus the
    # bounded near-dup shortlists whose whole point is surviving the
    # decade where pair output would be ~10,000x base, and the broadcast
    # range join (5-interval side must stay a zero-shuffle nested loop)
    "hybrid_search_rrf",
    "dedup_simhash_topn",
    "mm_image_dhash_topn",
    "ev_range_join",
    # round-11 (VERDICT r10 #4): the expensive families the spot table
    # skipped — the composed billion-scale index (most expensive plan in
    # the repo), the sqrt-law SemDeDup centroid claim at a second decade,
    # and the iterative co-partitioned pagerank over the df-capped pair
    # graph
    "knn_ivfpq_fixed",
    "dedup_semantic",
    "graph_pagerank",
    # round-12 (VERDICT r11 #6): the two round-11 bench-suite additions
    # get the same second-decade evidence as their peers. Note the fit
    # memo (operators/kmeans.py) means the measured reps ride a cached
    # codebook after the dropped warmup — the row grades the SEARCH
    # plan's scaling; the fit itself is `iterations` corpus passes by
    # construction (linear, see pq.fit_pq_codebooks_lloyd docstring).
    "knn_pq_trained",
    "dedup_substring_spans",
]


def build_scaled_subset(spark: SparkSession, factor: int) -> str:
    out = f"/tmp/icenetetl-spot{factor}"
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    copies = _copies(spark, factor)

    # 64-way layout: the 1x sources are single files, so the scaled
    # crossJoin output inherits 1-2 partitions — which caps source-side
    # (mapInPandas / scan) parallelism at 2 of 32 cores and inflates
    # every 100x number (same lesson as scale_stress.build_scaled).
    # The BASE-side repartition(64) before each crossJoin matters too:
    # `copies` is planner-broadcast, so the join output inherits the base
    # side's ONE partition and the whole factor-x perturb ran as a single
    # task — tolerable at 100x, a >12-min serial stall at 1000x. Spreading
    # the 1x rows first makes the perturb+write 64-way with no scaled-data
    # exchange (the trailing repartition then only evens the layout).
    docs = load_table(spark, BASE_SF, "documents").repartition(64)
    n_docs = 5000
    docs.crossJoin(copies).select(
        (F.col("doc_id") + F.col("copy").cast("long") * n_docs).alias("doc_id"),
        _perturb_text(F.col("text"), F.col("copy")).alias("text"),
        "lang", "source", "n_chars",
    ).repartition(64).write.parquet(f"{out}/documents.parquet")

    emb = load_table(spark, BASE_SF, "embeddings").repartition(64)
    n_vecs = 2000
    pert = F.transform(
        F.col("embedding"),
        lambda x, i: (
            x.cast("double")
            + F.lit(0.05) * F.col("copy").cast("double")
            * ((i * 37 % 13) - 6).cast("double")
        ).cast("float"),
    )
    emb.crossJoin(copies).select(
        (F.col("vec_id") + F.col("copy").cast("long") * n_vecs).alias("vec_id"),
        pert.alias("embedding"),
        "label",
    ).repartition(64).write.parquet(f"{out}/embeddings.parquet")

    ev = load_table(spark, BASE_SF, "events").repartition(64)
    ev.crossJoin(copies).select(
        (F.col("event_id") + F.col("copy").cast("long") * 10_000_000).alias(
            "event_id"
        ),
        "ts",
        (F.col("user_id") + F.col("copy").cast("long") * 1_000_000).alias(
            "user_id"
        ),
        "event_type", "value", "props",
    ).repartition(64).write.parquet(f"{out}/events.parquet")

    # measure.warmup touches every registry table: link the ones
    # this spot check does NOT scale to their 1x files (cheap to touch,
    # never read by the spot queries)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem"):
        os.symlink(f"{BASE_SF}/{t}.parquet", f"{out}/{t}.parquet")
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=100)
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    spark = get_spark("icenetetl-scale-spot")
    scaled = build_scaled_subset(spark, args.factor)
    base, big = measure_sizes(spark, BASE_SF, scaled, SPOT_QUERIES, args.runs)
    spark.stop()

    # Derive the headline claim FROM the measurements (the round-6 review
    # caught an unconditional "every ratio stays under the factor" here —
    # the published prose must not be able to contradict its own table).
    # A rounded-to-zero baseline makes the ratio unmeasurable (the table
    # prints inf) — count it as over rather than silently skipping it, or
    # the prose could again contradict its own table.
    over = [
        n
        for n in SPOT_QUERIES
        if base[n]["sec"] == 0
        or big[n]["sec"] / base[n]["sec"] > args.factor
    ]
    ratio_claim = (
        "Every ratio stays at or under the factor."
        if not over
        else (
            "**Superlinear ratios (over the data factor) for: "
            + ", ".join(over)
            + " — investigate before trusting this plan at scale.**"
        )
    )
    lines = [
        f"## {args.factor}x spot check (tools/scale_spot.py)",
        "",
        f"The same perturbed-copy construction one decade further "
        f"({args.factor}x documents/embeddings/events; interleaved "
        f"1x/{args.factor}x reps, one dropped warmup per (query, size), "
        f"median of {args.runs}, noop sink). " + ratio_claim + " One plan adapts "
        "by design: dedup_minhash_lsh's band "
        "self-join is broadcast by the planner while the signature table "
        "is tiny (1x) and becomes the designed hash-partitioned "
        "shuffle join once it is corpus-sized — the opposite adaptation "
        "(keeping a corpus-sized broadcast) would be the scale bug. "
        "Query-side joins stay broadcast at every size because the "
        "bounded side is pinned with an explicit hint (see the "
        "knn_bruteforce note in operators/similarity.py; before the pin, "
        "this spot check caught the non-equi join degrading to "
        "CartesianProduct at 100x). The components-first dedup rows "
        "(dedup_groups, mm_image_dup_groups) extend the 10x quotient "
        "argument a second decade: pair OUTPUT on these corpora grows "
        "~10,000x, yet the group plans ride their linear stages because "
        "the df-cap / exact-duplicate quotient bounds every pair stage "
        "by construction.",
        "",
        f"| query | 1x sec | {args.factor}x sec | ratio "
        f"| shuffles 1x/{args.factor}x | broadcasts 1x/{args.factor}x |",
        "|---|---|---|---|---|---|",
    ]
    for name in SPOT_QUERIES:
        b, g = base[name], big[name]
        ratio = round(g["sec"] / b["sec"], 1) if b["sec"] else float("inf")
        lines.append(
            f"| {name} | {b['sec']} | {g['sec']} | {ratio}x "
            f"| {b['shuffles']}/{g['shuffles']} "
            f"| {b['broadcasts']}/{g['broadcasts']} |"
        )
    same, adapted, unexpected = plan_shape_summary(
        base, big, SPOT_QUERIES, DESIGNED_ADAPTATIONS
    )
    flag_line = (
        f"Plan shapes identical across sizes (excluding whitelisted "
        f"designed adaptations): **{same}**."
    )
    if adapted:
        flag_line += " Designed adaptations observed: " + "; ".join(
            f"{n} ({DESIGNED_ADAPTATIONS[n]})" for n in adapted
        ) + "."
    if unexpected:
        flag_line += (
            " **UNDESIGNED plan-shape changes: "
            + ", ".join(unexpected)
            + " — investigate before trusting these plans at scale.**"
        )
    lines += ["", flag_line, ""]
    block = "\n".join(lines) + "\n"

    md = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALING.md",
    )
    old = open(md).read()
    marker = f"## {args.factor}x spot check"
    if marker in old:  # replace a previous spot section in place
        start = old.find(marker)
        end = old.find("\n## ", start + 1)
        old = old[:start] + block + (old[end + 1:] if end != -1 else "")
    else:
        old = old.rstrip() + "\n\n" + block
    with open(md, "w") as f:
        f.write(old)
    print(block)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
