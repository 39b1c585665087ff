"""Physical-plan audit: for every registered query, report the things that
matter at 100 TB — scan pushdown, join strategies, shuffle-exchange count,
broadcast count, pushed-down top-k limits (``WindowGroupLimit``), and any
Python-boundary operators.

Usage: python tools/audit_plans.py [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def audit(name, df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    joins = sorted(
        {m for m in re.findall(r"(\w*Join\w*)", plan) if "Exec" not in m}
    )
    shuffles = plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )
    broadcasts = plan.count("BroadcastExchange")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    n_pushed = sum(1 for p in pushed if p.strip())
    python_ops = sorted(
        set(re.findall(r"(ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas\w*|BatchEvalPython)", plan))
    )
    single_part_windows = plan.count("Window") and "partitionBy" not in plan
    flags = []
    if "BatchEvalPython" in python_ops:
        flags.append("ROW-AT-A-TIME-PYTHON!")
    return {
        "joins": ",".join(joins) or "-",
        "shuffles": shuffles,
        "bcast": broadcasts,
        "wgl": plan.count("WindowGroupLimit"),
        "pushed_scans": n_pushed,
        "python": ",".join(python_ops) or "-",
        "flags": ",".join(flags),
    }


def main():
    only = set(sys.argv[1:])
    from icenetetl_spark.queries import all_queries
    from icenetetl_spark.session import get_spark

    spark = get_spark(
        "plan-audit", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    print(
        f"{'query':28s} {'shuffles':>8s} {'bcast':>5s} {'wgl':>4s} {'pushed':>6s}"
        "  joins / python"
    )
    for name, fn in all_queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, SF_DIR)
            df.count()  # let AQE finalize
            a = audit(name, df)
            line = (
                f"{name:28s} {a['shuffles']:8d} {a['bcast']:5d} {a['wgl']:4d}"
                f" {a['pushed_scans']:6d}"
                f"  {a['joins']}"
            )
            if a["python"] != "-":
                line += f" | py:{a['python']}"
            if a["flags"]:
                line += f"  ⚠ {a['flags']}"
            print(line)
        except Exception as e:
            print(f"{name:28s} ERROR {type(e).__name__}: {str(e)[:80]}")
    spark.stop()


if __name__ == "__main__":
    main()
