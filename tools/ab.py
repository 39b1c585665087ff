"""Interleaved A/B of registry queries between a base commit and this tree.

A one-shot number can't tell "the code got slower" from "the host got
slower" on a shared box. This harness checks BASE out into a throwaway git
worktree and alternates base, head, base, head, ... subprocesses inside one
session, so both sides see the same ambient machine state. Every
subprocess runs THIS tree's tools/measure.py against its own side's
icenetetl_spark, so both sides are measured by identical code; each
reports per-query medians of three passes after a warm-up. Per-side
medians over the REPS subprocesses and the head/base ratio are reported.

Usage:
    python tools/ab.py BASE REPS [query ...]

With no queries it runs the bench.py suite and also reports the legacy-21
(BENCH_QUERIES) and extended (+ BENCH_QUERIES_EXT) totals.
Output: human table on stderr, one JSON line on stdout.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile

HEAD = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MEASURE = os.path.join(HEAD, "tools", "measure.py")


def side_command(tree: str, names: list[str]) -> list[str]:
    """The head's measure script, importing icenetetl_spark from ``tree``."""
    return [sys.executable, MEASURE, tree, *names]


def run_side(tree: str, names: list[str]) -> dict[str, float]:
    proc = subprocess.run(
        side_command(tree, names), capture_output=True, text=True, timeout=3600
    )
    if proc.returncode != 0:
        raise RuntimeError(f"measure failed in {tree}: {proc.stderr[-2000:]}")
    for line in reversed(proc.stdout.splitlines()):
        if line.startswith("MEASURE "):
            return json.loads(line[len("MEASURE "):])
    raise RuntimeError(f"no result line from {tree}")


def _entry(base_all: list[float], head_all: list[float]) -> dict:
    b, h = statistics.median(base_all), statistics.median(head_all)
    return {
        "base": round(b, 3),
        "head": round(h, 3),
        "ratio": round(h / b, 3) if b else None,
        "base_all": base_all,
        "head_all": head_all,
    }


def main() -> None:
    base, reps_s, *names = sys.argv[1:]
    reps = int(reps_s)
    suites: dict[str, list[str]] = {}
    if not names:
        sys.path.insert(0, HEAD)
        from bench import BENCH_QUERIES, BENCH_QUERIES_EXT

        names = BENCH_QUERIES + BENCH_QUERIES_EXT
        suites = {"legacy21": BENCH_QUERIES, "extended": names}

    results: dict[str, list[dict]] = {"base": [], "head": []}
    with tempfile.TemporaryDirectory(prefix="ab_") as tmp:
        base_tree = os.path.join(tmp, "base")
        subprocess.run(
            ["git", "worktree", "add", "--detach", base_tree, base],
            cwd=HEAD, check=True, capture_output=True,
        )
        try:
            for i in range(reps):
                for side, tree in (("base", base_tree), ("head", HEAD)):
                    r = run_side(tree, names)
                    results[side].append(r)
                    print(f"rep {i + 1}/{reps} {side}: total "
                          f"{sum(r.values()):.2f}s", file=sys.stderr, flush=True)
        finally:
            subprocess.run(
                ["git", "worktree", "remove", "--force", base_tree],
                cwd=HEAD, capture_output=True,
            )

    def walls(side: str, qs: list[str]) -> list[float]:
        return [round(sum(r[q] for q in qs), 3) for r in results[side]]

    out: dict = {"base_commit": base, "reps": reps, "queries": {}}
    for q in names:
        out["queries"][q] = _entry(walls("base", [q]), walls("head", [q]))
    if suites:
        out["totals"] = {
            k: _entry(walls("base", qs), walls("head", qs))
            for k, qs in suites.items()
        }
    for label, e in {**out["queries"], **out.get("totals", {})}.items():
        print(f"{label}: base {e['base']:.3f} head {e['head']:.3f} "
              f"ratio {e['ratio']}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
