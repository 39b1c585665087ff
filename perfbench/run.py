"""The repository benchmark: run one workload, check its outputs, print its
metrics.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 7 --trace 0

Run from the root of a checkout. Spark runs at ``local[<cores>]`` with the
settings of ``icenetetl_spark.session.get_spark``; one client drives it in a
closed loop. Inputs are generated from ``--seed`` under a fresh directory
in the checkout, removed at the end.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
carries diagnostics that are not metrics. Spans of a traced run are written
to ``.perfbench/traces/``. The exit code is 1 when an op failed or an
output check found a mismatch.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback


def _process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


T_PROCESS = _process_start()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest", "analytics")


def _env(workdir: str) -> None:
    """Set before the JVM starts; Spark's Python workers inherit it."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # the cross-run fit-artifact disk cache stays off, as in bench.py
    os.environ["ICENETETL_FIT_CACHE_DIR"] = ""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"


def _host_probe() -> float:
    """A fixed CPU and memory job independent of the program: hash and
    sort 4M integers with numpy. Run before Spark starts and after the
    run; a slow reading flags a noisy host. Diagnostic only."""
    import numpy as np

    t0 = time.perf_counter()
    x = np.arange(4_000_000, dtype=np.int64)
    for _ in range(3):
        x = np.sort((x * 2654435761) % 1000003)
    return time.perf_counter() - t0


def _peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus the Python driver's peak RSS."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def _tail(values: list[float]) -> tuple[float, int] | None:
    """Highest percentile (in steps of 10) with at least ten samples above
    it, as (value, percentile); None when there are too few samples."""
    xs = sorted(values)
    for pct in (90, 80, 70, 60, 50):
        i = int(len(xs) * pct / 100)
        if len(xs) - i - 1 >= 10:
            return xs[i], pct
    return None


def _stop(spark) -> None:
    """Stop Spark and wait until the gateway JVM has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "icenetetl_spark")):
        print(f"no icenetetl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import metrics as M
    from perfbench.trace import Tracer
    from perfbench.workloads import Analytics, Ingest

    base = os.path.join(ROOT, ".perfbench")
    workdir = os.path.join(base, f"run-{args.workload}-{os.getpid()}")
    os.makedirs(workdir)
    tracer = Tracer(bool(args.trace))
    cls = {"ingest": Ingest, "analytics": Analytics}[args.workload]
    wl = cls(args.seed, args.seconds, workdir, tracer)
    spark = None
    try:
        _env(workdir)
        t0 = time.time()
        probes = [_host_probe()]
        wl.make_inputs()
        t_inputs = time.time() - t0  # the benchmark's own work, not set-up

        t0 = time.perf_counter()
        from icenetetl_spark.session import get_spark

        spark = get_spark("perfbench")
        get_spark_s = time.perf_counter() - t0
        wl.setup(spark)
        # set-up ends when the first op can be issued; the cold pass after
        # it is the workload's warm-up and is reported on its own
        setup_s = time.time() - T_PROCESS - t_inputs

        failed, errors, check_s = 0, [], 0.0
        try:
            wl.run()
        except Exception:
            traceback.print_exc()
            failed += 1
            errors.append("an op raised")
        else:
            t0 = time.perf_counter()
            errors = wl.check()
            check_s = time.perf_counter() - t0
            failed += len(errors)
        for e in errors:
            print(f"check failed: {e}", file=sys.stderr)
        probes.append(_host_probe())
        rss = _peak_rss_mb(spark)

        lat = [op.wall for op in wl.ops if op.phase == "warm"]
        if not lat:
            print("no warm op completed; no result", file=sys.stderr)
            return 1
        diag = {
            "workload": args.workload,
            "seed": args.seed,
            "ops": len(wl.ops),
            "warm_ops": len(lat),
            "op_p50_s": statistics.median(lat),
            "host.probe_s": probes,
            "get_spark_s": get_spark_s,
            "inputs_s": t_inputs,
            "peak_rss_mb": rss,
            "check_s": check_s,
            "cold_pass_s": sum(op.wall for op in wl.ops if op.phase == "cold"),
            "op_s": {
                ph: [[op.key, op.wall] for op in wl.ops if op.phase == ph]
                for ph in ("cold", "warmup", "warm")
            },
        }
        tail = _tail(lat)
        if tail:
            diag["op_tail_s"] = {"value": tail[0], "percentile": tail[1], "samples": len(lat)}
        if args.trace:
            metrics = M.per_layer(wl, tracer, get_spark_s, statistics.median(probes), rss)
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            tracer.dump(os.path.join(base, "traces", f"{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = M.end_to_end(wl, setup_s)
        print(json.dumps(diag))
        attempted = max(1, len(wl.ops))
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": attempted,
                    "failed": min(failed, attempted),
                    "metrics": metrics,
                }
            ),
            flush=True,
        )
        return 0 if failed == 0 else 1
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
