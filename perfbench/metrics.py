"""Turn a finished workload into the benchmark's metrics.

End-to-end metrics come from untraced runs only; per-layer metrics from a
traced run of the same workload. Every metric is printed for every
workload. A per-layer metric is the median over the warm ops that reach
its layer; one of a layer the workload never calls reads 0.
"""

from __future__ import annotations

import statistics

from perfbench.trace import SparkCounters

SPAN_METRICS = [
    "queries.construct",
    "queries.execute",
    "plans.update_geometries",
    "plans.update_forecasts",
    "plans.update_latest",
    "plans.update_meta",
    "sources.melt",
    "txn.append_missing",
    "txn.upsert",
    "txn.overwrite",
    "txn.read",
    "txn.read_pruned",
    "catalog.append_missing",
    "catalog.upsert",
    "catalog.overwrite",
]
OP_COUNTERS = [
    "queries.construct_jobs",
    "txn.commits",
    "txn.insert_ratio",
    "txn.bytes_written",
    "txn.files_written",
    "catalog.bytes_written",
    "catalog.files_written",
    "streaming.batch_s",
    "streaming.trigger_overhead_s",
]
COUNTER_LAYERS = ("queries", "plans")


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith(("bytes", "bytes_written")):
        return "bytes"
    return "ratio" if name.endswith("ratio") else "count"


def pass_s(wl) -> float:
    """One measured pass with each of its ops (a query, an ingest path) at
    its median over the measured passes, so that, with several, a spike
    in one pass moves it less than it moves that pass's wall."""
    walls: dict[str, list[float]] = {}
    for op in wl.ops:
        if op.phase == "warm":
            walls.setdefault(op.key, []).append(op.wall)
    return sum(statistics.median(w) for w in walls.values())


def end_to_end(wl, setup_s: float) -> dict:
    return {
        "setup_s": _m(setup_s, "s"),
        "pass_s": _m(pass_s(wl), "s"),
        "stored_bytes_per_input_byte": _m(wl.stored_bytes_per_input_byte(), "ratio"),
    }


def per_layer(wl, tracer, get_spark_s: float, probe_s: float, rss_mb: float) -> dict:
    warm = [op for op in wl.ops if op.phase == "warm"]
    ids = [op.oid for op in warm]
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    out = {
        "session.get_spark_s": _m(get_spark_s, "s"),
        "session.peak_rss_mb": _m(rss_mb, "MB"),
        "queries.all_queries_s": _m(wl.all_queries_s, "s"),
        "host.probe_s": _m(probe_s, "s"),
        "trace.op_p50_s": _m(med([op.wall for op in warm]), "s"),
        "trace.cold_pass_s": _m(sum(op.wall for op in wl.ops if op.phase == "cold"), "s"),
    }
    totals = tracer.layer_totals(ids)
    for name in SPAN_METRICS:
        out[f"{name}_s"] = _m(med(totals.get(name, [])), "s")
    for name in OP_COUNTERS:
        out[name] = _m(med([op.counters[name] for op in warm if name in op.counters]), _unit(name))
    for layer in COUNTER_LAYERS:
        for c in SparkCounters.COUNTERS:
            vals = [op.counters.get(c, 0.0) for op in warm] if wl.layer == layer else []
            out[f"{layer}.{c}"] = _m(med(vals), _unit(c))
    return out
