"""Span tracer and Spark counters for the traced run.

Spans are recorded around calls into the program's layers by wrapping
public methods at runtime (``Tracer.wrap``); nothing inside the package is
changed. Each span has a name, start, end, parent and the id of the op it
belongs to. Self time is a span's duration minus the part its direct
children cover.

Spark counters are per-op deltas of the driver's status store (stages and
jobs) and of ``CodegenMetrics``, read over py4j. They need no UI server.
The store keeps the last 1000 stages and jobs, so deltas are read after
every op. Its lists come newest first, so a delta reads only the new
entries.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    """Records spans when enabled; ``span`` is a cheap no-op otherwise."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, self.op, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, cls, method: str, name: str) -> None:
        """Replace ``cls.method`` with a version that runs inside a span."""
        if not self.enabled:
            return
        orig = getattr(cls, method)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(cls, method, traced)

    def self_times(self) -> dict[int, float]:
        out = {s.sid: s.end - s.start for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.end - s.start
        return out

    def layer_totals(self, op_ids) -> dict[str, list[float]]:
        """Per span name, the summed durations of that name's spans in each
        op of ``op_ids`` that has one."""
        op_ids = set(op_ids)
        totals: dict[str, dict[int, float]] = {}
        for s in self.spans:
            if s.op in op_ids:
                row = totals.setdefault(s.name, {})
                row[s.op] = row.get(s.op, 0.0) + s.end - s.start
        return {name: list(row.values()) for name, row in totals.items()}

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": s.sid,
                            "name": s.name,
                            "op": s.op,
                            "parent": s.parent,
                            "start": s.start,
                            "end": s.end,
                            "self": selfs[s.sid],
                        }
                    )
                    + "\n"
                )


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkCounters:
    """Per-op deltas of the status store and of the codegen counters."""

    COUNTERS = (
        "jobs",
        "stages",
        "tasks",
        "executor_run_s",
        "executor_cpu_s",
        "gc_s",
        "shuffle_read_bytes",
        "shuffle_write_bytes",
        "spill_bytes",
        "stage_active_s",
        "driver_only_s",
        "slot_idle_ratio",
        "codegen_compiles",
        "codegen_methods",
    )

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = spark._jvm
        self._gateway = sc._gateway
        self._store = sc._jsc.sc().statusStore()
        self._cores = sc.defaultParallelism
        self._codegen = self._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._last_stage = self._max_stage_id()
        self._last_job = self._max_job_id()
        self._cg = self._codegen_counts()
        self._t0 = time.time()

    def _stages(self):
        empty = self._gateway.new_array(self._jvm.double, 0)
        return self._store.stageList(
            None, False, False, empty, self._jvm.java.util.ArrayList()
        )

    def _max_stage_id(self) -> int:
        stages = self._stages()
        return stages.apply(0).stageId() if stages.size() else -1

    def _max_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    @staticmethod
    def _newer(items, last: int, key) -> list:
        """The entries of a newest-first store list whose id exceeds ``last``."""
        out = []
        for i in range(items.size()):
            item = items.apply(i)
            if key(item) <= last:
                break
            out.append(item)
        return out

    def _codegen_counts(self) -> tuple[int, int]:
        cg = self._codegen
        return (
            cg.METRIC_COMPILATION_TIME().getCount(),
            cg.METRIC_GENERATED_METHOD_BYTECODE_SIZE().getCount(),
        )

    def start(self) -> None:
        """Start timing an op. Stage, job and codegen deltas run from the
        last ``stop``; consecutive stops split an op into phases."""
        self._t0 = time.time()

    def stop(self) -> dict[str, float]:
        """Counters of everything Spark ran since ``start``."""
        t1 = time.time()
        wall = t1 - self._t0
        new = self._newer(self._stages(), self._last_stage, lambda s: s.stageId())
        if new:
            self._last_stage = new[0].stageId()
        jobs = self._newer(self._store.jobsList(None), self._last_job, lambda j: j.jobId())
        n_jobs = len(jobs)
        if jobs:
            self._last_job = jobs[0].jobId()
        cg = self._codegen_counts()
        compiles, methods = cg[0] - self._cg[0], cg[1] - self._cg[1]
        self._cg = cg

        out = dict.fromkeys(self.COUNTERS, 0.0)
        intervals = []
        for s in new:
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            a, b = _opt_ms(s.submissionTime()), _opt_ms(s.completionTime())
            if a is not None:
                intervals.append((max(a, self._t0), min(b if b is not None else t1, t1)))
        active = 0.0
        cur_a = cur_b = None
        for a, b in sorted(intervals):
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    active += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            active += cur_b - cur_a
        out["jobs"] = n_jobs
        out["stage_active_s"] = active
        out["driver_only_s"] = max(0.0, wall - active)
        out["slot_idle_ratio"] = (
            1.0 - out["executor_run_s"] / (active * self._cores) if active > 0 else 0.0
        )
        out["codegen_compiles"] = compiles
        out["codegen_methods"] = methods
        self._t0 = t1
        return out
