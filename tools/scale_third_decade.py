"""Third-decade (1000x) spot check — the 100x spot one decade further.

Every scale claim so far tops out at 100x (= 500k docs / 200k vectors /
~6M events). This tool pushes the LEAN, scale-critical subset to 1000x
(5M docs / 2M vectors / ~60M events, 3-4 GB on disk — still buildable on
this host without measuring the disk instead of the plans) to answer the
only question the second decade leaves open: do the flat shapes hold for
a THIRD decade, or do fixed overheads that amortized at 100x become new
bottlenecks at 1000x?

Subset rationale (vs scale_spot's 21): one representative per linear
family (exact dedup's hash groupBy, MinHash's banded join, SimHash's
bucket count, BM25's posting aggregation, brute-force scoring's pinned
broadcast, sessionize's two-phase, the distributed-prefix-sum shuffle,
RRF fusion) plus the round-13 PROMOTED scale default
dedup_substring_sampled — the one whose dispatch rule explicitly claims
"from the decade where the gram table dominates", so its third decade is
the claim under test. Deliberately excluded: dedup_semantic (flat is
Theta(N^1.5) — ~140s at 100x extrapolates to >1h; the two-level successor
is the documented escape), dedup_semantic_two_level (Theta(N^1.25)
extrapolates to ~30 min — recorded as an extrapolation, not measured),
and the pair-graph families (dedup_groups ~4-8 min projected — second
decade already proved the quotient/cap argument).

Single measured rep per (query, size) after a dropped warmup (the 1000x
side alone is ~7-8 min of query wall; interleaving medians would triple
a measurement whose ratios are read against a 10x factor, not 1.1x).

Usage: python tools/scale_third_decade.py [--factor 1000] [--runs 1]
Appends/replaces the "## 1000x third-decade spot" section of SCALING.md.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from icenetetl_spark.session import get_spark  # noqa: E402
from tools.scale_stress import (  # noqa: E402
    BASE_SF,
    DESIGNED_ADAPTATIONS,
    measure_sizes,
    plan_shape_summary,
)
from tools.scale_spot import build_scaled_subset  # noqa: E402

THIRD_DECADE_QUERIES = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_bm25_topk",
    "knn_bruteforce",
    "ev_sessionize",
    "doc_global_shuffle",
    "hybrid_search_rrf",
    "dedup_substring_sampled",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=1000)
    ap.add_argument("--runs", type=int, default=1)
    args = ap.parse_args()

    spark = get_spark("icenetetl-third-decade")
    scaled = build_scaled_subset(spark, args.factor)
    base, big = measure_sizes(spark, BASE_SF, scaled, THIRD_DECADE_QUERIES, args.runs)
    spark.stop()

    over = [
        n
        for n in THIRD_DECADE_QUERIES
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
        f"## {args.factor}x third-decade spot (tools/scale_third_decade.py, r13)",
        "",
        f"The 100x spot subset one decade further ({args.factor}x "
        f"documents/embeddings/events — 5M docs / 2M vectors / ~60M "
        f"events; interleaved 1x/{args.factor}x passes, one dropped "
        f"warmup per (query, size), {args.runs} measured rep (see the "
        "tool docstring for why not a median), noop sink). "
        + ratio_claim
        + " Excluded with reasons in the tool docstring: flat "
        "dedup_semantic (Theta(N^1.5), >1h projected — the two-level "
        "successor is the escape), dedup_semantic_two_level "
        "(Theta(N^1.25); measured once at 1890.5s in r13 — see the "
        "hand-maintained reading below), pair-graph families "
        "(quotient/cap argument settled at 100x).",
        "",
        f"| query | 1x sec | {args.factor}x sec | ratio "
        f"| shuffles 1x/{args.factor}x | broadcasts 1x/{args.factor}x |",
        "|---|---|---|---|---|---|",
    ]
    for name in THIRD_DECADE_QUERIES:
        b, g = base[name], big[name]
        ratio = round(g["sec"] / b["sec"], 1) if b["sec"] else float("inf")
        lines.append(
            f"| {name} | {b['sec']} | {g['sec']} | {ratio}x "
            f"| {b['shuffles']}/{g['shuffles']} "
            f"| {b['broadcasts']}/{g['broadcasts']} |"
        )
    same, adapted, unexpected = plan_shape_summary(
        base, big, THIRD_DECADE_QUERIES, DESIGNED_ADAPTATIONS
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
    marker = f"## {args.factor}x third-decade spot"
    if marker in old:
        start = old.find(marker)
        # stop at the next heading of ANY level: a "### ..." sub-heading
        # inside this section is a HAND-MAINTAINED reading and must
        # survive tool re-runs (one already got stomped this way)
        ends = [
            e
            for e in (
                old.find("\n## ", start + 1),
                old.find("\n### ", start + 1),
            )
            if e != -1
        ]
        end = min(ends) if ends else -1
        old = old[:start] + block + (old[end + 1:] if end != -1 else "")
    else:
        old = old.rstrip() + "\n\n" + block
    with open(md, "w") as f:
        f.write(old)
    print(block)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
