"""Construction-cost sweep: run every registry entry twice through
tools/measure.run and report the construction phase (plan building + any
construction-time driver jobs) of the second (warm) pass, sorted
descending, with the jobs it ran.

Finds guide-§7.3 driver-side hotspots (py4j chatter, probe jobs, eager
pins) across the whole registry.

Usage: python tools/construction_sweep.py [top_n]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import measure  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    top_n = int(sys.argv[1]) if len(sys.argv) > 1 else 40

    from icenetetl_spark.queries import all_queries
    from icenetetl_spark.session import get_spark

    spark = get_spark("construction-sweep")
    measure.warmup(spark, SF_DIR)

    qs = all_queries()
    rows = []
    for name, fn in sorted(qs.items()):
        try:
            cold = measure.run(spark, fn, SF_DIR)
            warm = measure.run(spark, fn, SF_DIR)
            rows.append((warm.construct_s, cold.construct_s,
                         int(warm.construct["jobs"]), name))
        except Exception as e:  # noqa: BLE001 - report and continue
            print(f"ERROR {name}: {e}")
    rows.sort(reverse=True)
    print(f"{'warm_s':>8} {'cold_s':>8} {'jobs':>5}  query")
    for warm, cold, jobs, name in rows[:top_n]:
        print(f"{warm:8.3f} {cold:8.3f} {jobs:>5}  {name}")
    total = sum(w for w, *_ in rows)
    print(f"registry construction total (warm): {total:.1f}s over {len(rows)} queries")
    spark.stop()


if __name__ == "__main__":
    main()
