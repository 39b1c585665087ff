"""Per-job wall breakdown for one or more registered queries (guide §1).

Runs each named query through tools/measure.run (construction, then the
noop sink), then lists every Spark job the last rep issued from the
driver's status store: wall, stage count, task count and the job's
callsite — so a 5s query's wall can be attributed to its construction-time
driver jobs (counts/first/collect) vs the materialization's stage chain.

Usage: python tools/profile_query.py [-r reps] query [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import measure  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _jobs_after(store, last: int) -> list:
    """Jobs newer than ``last``, oldest first (the store lists newest first)."""
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() <= last:
            break
        out.append(j)
    return out[::-1]


def _job_wall_s(j) -> float:
    return (
        j.completionTime().get().getTime() - j.submissionTime().get().getTime()
    ) / 1e3


def main() -> None:
    args = sys.argv[1:]
    reps = 2
    if args and args[0] == "-r":
        reps = int(args[1])
        args = args[2:]
    names = args

    from icenetetl_spark.queries import all_queries
    from icenetetl_spark.session import get_spark

    spark = get_spark("profile")
    store = spark.sparkContext._jsc.sc().statusStore()
    qs = all_queries()
    measure.warmup(spark, SF_DIR)

    for name in names:
        recs = [measure.run(spark, qs[name], SF_DIR) for _ in range(reps - 1)]
        newest = store.jobsList(None)
        last_job = newest.apply(0).jobId() if newest.size() else -1
        rec = measure.run(spark, qs[name], SF_DIR)
        recs.append(rec)
        jobs = _jobs_after(store, last_job)
        print(f"\n=== {name}: wall {rec.wall:.3f}s "
              f"(construction {rec.construct_s:.3f}s, exec {rec.execute_s:.3f}s) "
              f"all reps: {[round(r.wall, 3) for r in recs]} "
              f"constr: {[round(r.construct_s, 3) for r in recs]}")
        total_job = 0.0
        for j in jobs:
            dur = _job_wall_s(j)
            total_job += dur
            print(
                f"  job {j.jobId():>4} {dur * 1000:7.0f}ms "
                f"stages={j.stageIds().size()} "
                f"tasks={j.numTasks()} "
                f"{(j.name() or '')[:90]}"
            )
        print(f"  sum(job walls) = {total_job:.3f}s; "
              f"gaps (driver/plan time) = {rec.wall - total_job:.3f}s")
    spark.stop()


if __name__ == "__main__":
    main()
