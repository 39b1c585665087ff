from __future__ import annotations

import os
import subprocess

from pyspark.sql import functions as F

from tools import ab, measure

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_construction_job_is_billed_to_construction(spark):
    def fn(spark, sf_dir):
        spark.range(10).collect()
        return spark.range(5)

    rec = measure.run(spark, fn, "unused")
    assert rec.construct["jobs"] == 1
    assert rec.execute["jobs"] == 1
    assert rec.wall == rec.construct_s + rec.execute_s


def test_plain_query_runs_only_at_execution(spark):
    def fn(spark, sf_dir):
        return spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()

    rec = measure.run(spark, fn, "unused")
    assert rec.construct["jobs"] == 0
    assert rec.construct["stages"] == 0
    assert rec.execute["jobs"] >= 1
    assert rec.execute["stages"] >= 1


def test_ab_side_imports_package_from_tree_and_measure_from_head(tmp_path):
    """The side runner must measure a base tree's icenetetl_spark with this
    tree's tools/measure.py and perfbench counters, even when the base tree
    carries its own copies of both. The fake package stops the run at import,
    before any Spark session starts."""
    tree = tmp_path / "base"
    (tree / "icenetetl_spark").mkdir(parents=True)
    (tree / "icenetetl_spark" / "__init__.py").write_text(
        "import sys\n"
        "print('PKG', __file__)\n"
        "print('MEASURE', sys.modules['__main__'].__file__)\n"
        "print('TRACE', sys.modules['perfbench.trace'].__file__)\n"
        "raise SystemExit(0)\n"
    )
    for stale in ("tools/measure.py", "perfbench/trace.py"):
        (tree / stale).parent.mkdir(exist_ok=True)
        (tree / stale).write_text("raise SystemExit('imported from the tree')\n")

    proc = subprocess.run(
        ab.side_command(str(tree), ["q1_pricing_summary"]),
        capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode == 0, proc.stderr
    seen = dict(line.split(" ", 1) for line in proc.stdout.splitlines())
    assert seen["PKG"] == str(tree / "icenetetl_spark" / "__init__.py")
    assert seen["MEASURE"] == os.path.join(REPO, "tools", "measure.py")
    assert seen["TRACE"] == os.path.join(REPO, "perfbench", "trace.py")
