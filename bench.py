"""Benchmark driver: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "layers": {name: record, ...}, "sf": ...}.

Each query is built and then materialized into the noop sink by
tools/measure.run (no driver collect of payload rows — we time the full
plan execution, not result transfer), which also records each phase's
Spark counters. measure.warmup first touches every table so
JVM/codegen/page-cache warmup isn't attributed to the first measured query.

Timings are the PER-QUERY MEDIAN over $SPARK_GRAFT_BENCH_RUNS passes
(default 3): single runs at sf0.1 show ~3s random stalls on arbitrary
queries (GC pause / page-cache eviction / codegen-cache churn), so a
one-shot number can misreport a query by 2-3x. The median of three is
stable to one such stall per query while still penalizing consistent
slowness.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Turn off the cross-run fit-artifact DISK cache for the timed suite: a
# prior process's persisted artifacts must not decide whether a *_trained
# query's first pass pays its fit. The session memo still applies from
# pass 2 on, so the per-query MEDIAN of 3 passes measures the warm path,
# and the per-pass "fit_cache" field below labels which passes computed a
# fit and which rode the memo. Must be set before the icenetetl imports
# (operators/kmeans.py reads it at import).
os.environ["ICENETETL_FIT_CACHE_DIR"] = ""

from icenetetl_spark.queries import all_queries  # noqa: E402
from icenetetl_spark.session import get_spark  # noqa: E402
from tools import measure  # noqa: E402

BENCH_QUERIES = [
    # relational headliners
    "q1_pricing_summary",
    "q3_top_revenue",
    "q5_local_supplier",
    "q6_revenue_delta",
    "q4_semi_join",
    "q13_cust_distribution",
    "q16_distinct_suppliers",
    "q18_large_orders",
    # reference-parity chains
    "j2_inner_enrich",
    "w1_row_number",
    "icenet_pipeline_latest",
    # event analytics
    "ev_window_rollup",
    "ev_sessionize",
    # LLM-data-pipeline operators
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_stats",
    "text_lang_id",
    "knn_bruteforce",
    "knn_sign_lsh",
    "mm_decode",
]

# Round-10 additions (verdict #4): the r7-r9 retrieval/ANN/corpus surface
# had no per-round recorded number, so regressions in the repo's most
# expensive plans were invisible between stress refreshes. Kept SEPARATE
# from BENCH_QUERIES so `value` stays comparable with rounds 1-9; the JSON
# adds every extended timing plus `value_extended` for the full suite.
BENCH_QUERIES_EXT = [
    "knn_ivfpq_fixed",
    "text_bm25_topk",
    "hybrid_search_rrf",
    "dedup_simhash_topn",
    "corpus_prep_pipeline",
    # Round-11 additions: the plans this round rewrote or memoized get a
    # per-round recorded number (substring spans rode the single-scan
    # window rewrite, 12.3s -> 3.6s; knn_pq_trained the one-job-per-
    # iteration fit + session memo, 20.3s -> 7.2s gate). value_extended
    # grows accordingly — the BENCHDRIFT ledger notes the suite width
    # per round next to each total.
    "dedup_substring_spans",
    "knn_pq_trained",
    # Round-12 addition: the hierarchical SemDeDup assignment (the round's
    # new operator) gets a per-round recorded number alongside its flat
    # sibling's 100x evidence (SCALING.md cap-study interpretation).
    # value_extended is a 29-query suite from r12 on.
    "dedup_semantic_two_level",
]


def _ambient_probe(spark, reps: int = 3) -> list[float]:
    """Fixed-size synthetic CPU+shuffle micro-job, independent of SF and of
    any repo data: 20M-row integer hash -> 1M-key groupBy (one shuffle) ->
    top-5, one partition per core. Run before and after the suite so every
    recorded total carries its own ambient denominator — round-over-round
    shifts in the suite total can then be attributed to host conditions vs
    code without re-running the interleaved A/B by hand (BENCHDRIFT.md
    established the need: same-code spread on this host is ~20%, with
    4-15% CPU steal in slow windows)."""
    from pyspark.sql import functions as F

    slots = spark.sparkContext.defaultParallelism
    out = []
    for _ in range(reps):
        t0 = time.time()
        (
            spark.range(0, 20_000_000, 1, slots)
            .select(((F.col("id") * 2654435761) % 1000003).alias("k"))
            .groupBy("k")
            .count()
            .orderBy(F.desc("count"), F.asc("k"))
            .limit(5)
            .collect()
        )
        out.append(round(time.time() - t0, 3))
    return out


def _median(xs) -> float:
    return round(statistics.median(xs), 3)


def reps_over_1p5x(reps: list[float]) -> int:
    """Probe reps slower than 1.5x the probe median: ambient bursts that
    the median alone hides."""
    med = statistics.median(reps)
    return sum(r > 1.5 * med for r in reps)


def fit_sec(walls: list[float]) -> float | None:
    """A trained query's fit time: its first pass, which fits, minus the
    median of the warm passes the session memo serves. None with one pass."""
    if len(walls) < 2:
        return None
    return round(walls[0] - statistics.median(walls[1:]), 3)


def _layers(records: list[measure.RunRecord]) -> dict:
    """Per-field medians of one query's run records."""
    out = {
        "construct_s": _median(r.construct_s for r in records),
        "execute_s": _median(r.execute_s for r in records),
    }
    for phase in ("construct", "execute"):
        out[phase] = {
            k: _median(getattr(r, phase)[k] for r in records)
            for k in getattr(records[0], phase)
        }
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("icenetetl-bench")
    queries = all_queries()

    measure.warmup(spark, sf_dir)

    probe_pre = _ambient_probe(spark)

    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    suite = BENCH_QUERIES + BENCH_QUERIES_EXT
    samples: dict[str, list[measure.RunRecord]] = {n: [] for n in suite}
    # r11 drift lesson: the r11 driver run's FIRST pre-probe read 2.53s vs
    # ~1.3s for the other five — a pre/post-only probe can miss an ambient
    # burst that lands mid-suite. One probe rep between suite passes makes
    # the denominator sample the same window the queries ran in.
    probe_mid: list[float] = []
    # trained-fit resolution log (kmeans.FIT_EVENTS), cleared before each
    # query and read whole after it: each *_trained query's timing is
    # stamped with whether its fit was computed ("fit") or served from the
    # session memo ("memo"); the disk layer is disabled above so "disk"
    # cannot appear in a bench run.
    from icenetetl_spark.operators.kmeans import FIT_EVENTS

    fit_cache: dict[str, list[str]] = {}
    for i in range(runs):
        if i > 0:
            probe_mid += _ambient_probe(spark, reps=1)
        for name in suite:
            FIT_EVENTS.clear()
            samples[name].append(measure.run(spark, queries[name], sf_dir))
            if FIT_EVENTS:
                fit_cache.setdefault(name, []).append(
                    "+".join(f"{k}:{src}" for k, src in FIT_EVENTS)
                )

    probe_post = _ambient_probe(spark)

    timings = {n: _median(r.wall for r in s) for n, s in samples.items()}
    # `value` remains the LEGACY-21 total (comparable with rounds 1-9);
    # the extended suite reports alongside it
    total = round(sum(timings[n] for n in BENCH_QUERIES), 3)
    total_ext = round(sum(timings.values()), 3)
    probe_reps = probe_pre + probe_mid + probe_post
    probe = _median(probe_reps)
    print(
        json.dumps(
            {
                "metric": "headline_suite_total",
                "value": total,
                # full suite incl. the round-10 retrieval/ANN/corpus
                # additions (BENCH_QUERIES_EXT); `value` stays the
                # legacy-21 total so rounds 1-9 remain comparable
                "value_extended": total_ext,
                "unit": "sec",
                "queries": timings,
                # per-query medians of each phase's wall and Spark
                # counters (tools/measure.RunRecord)
                "layers": {n: _layers(s) for n, s in samples.items()},
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                # r14 (VERDICT r13 #2): the EFFECTIVE core count the
                # session honors ($SPARK_GRAFT_CPUS -> local[N]) so the
                # driver's low-core scaling run is self-describing.
                "cores": spark.sparkContext.defaultParallelism,
                # per-pass trained-fit resolutions ("<family>:fit|memo")
                # for every suite query that trains a model — absent keys
                # ran no fit. Disk artifacts are disabled for the suite.
                "fit_cache": fit_cache,
                # per *_trained query: pass-1 wall minus the warm median
                "fit_sec": {
                    n: fit_sec([r.wall for r in s])
                    for n, s in samples.items()
                    if n.endswith("_trained")
                },
                # ambient calibration: fixed synthetic probe (see
                # _ambient_probe). Compare `value / ambient_probe.median`
                # across rounds to separate host drift from code drift.
                "ambient_probe": {
                    "pre": probe_pre,
                    "mid": probe_mid,
                    "post": probe_post,
                    "median": probe,
                    "reps_over_1p5x": reps_over_1p5x(probe_reps),
                    "total_per_probe": round(total / probe, 2)
                    if probe > 0
                    else None,
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
