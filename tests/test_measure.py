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


def test_warm_pass_compiles_nothing(spark):
    """The session's codegen cache holds a whole working set, so a second
    pass of the same queries compiles no class. These 20 bench queries
    compile about 200 classes; with Spark's default cache of 100 the
    second pass compiled 197 of them again. icenet_pipeline_latest is left
    out: it compiles a few new classes on every pass, cache or not."""
    import bench
    from icenetetl_spark.queries import all_queries
    from tools.check_oracle import SF_DIR

    queries = all_queries()
    names = [n for n in bench.BENCH_QUERIES if n != "icenet_pipeline_latest"]

    def compiles() -> int:
        recs = [measure.run(spark, queries[n], SF_DIR) for n in names]
        return sum(
            r.construct["codegen_compiles"] + r.execute["codegen_compiles"]
            for r in recs
        )

    compiles()
    assert compiles() == 0


def test_bench_probe_reps_over_1p5x():
    import bench

    assert bench.reps_over_1p5x([2.0, 2.1, 1.9, 3.0, 3.2]) == 1
    assert bench.reps_over_1p5x([1.0, 1.0, 1.0, 1.5, 1.51]) == 1
    assert bench.reps_over_1p5x([2.0]) == 0


def test_bench_fit_sec_is_first_pass_over_warm_median():
    import bench

    assert bench.fit_sec([9.5, 2.0, 2.5, 2.25]) == 7.25
    assert bench.fit_sec([3.0, 3.5]) == -0.5
    assert bench.fit_sec([4.0]) is None
