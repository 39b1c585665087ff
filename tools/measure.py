"""One measurement layer for bench.py and the tools.

- ``warmup(spark, sf_dir)`` pays the one-time process costs before any
  query is timed.
- ``run(spark, fn, sf_dir)`` times one registry query: construction, then
  execution into the ``noop`` sink, each phase with its Spark counters.
- ``interleave(spark, sides, names, reps)`` alternates data directories
  per query and takes medians, so ambient host noise hits every side of a
  ratio.

The counters are ``perfbench.trace.SparkCounters`` deltas (status store and
``CodegenMetrics`` over py4j; no UI server). The module lives outside the
package so an A/B measures both sides with the same code: run as a script,

    python tools/measure.py TREE query [query ...]

it imports ``icenetetl_spark`` from TREE, runs three passes of the named
queries after a warm-up and prints ``MEASURE {name: median wall s}``.
``tools/ab.py`` runs it against each side's tree.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from dataclasses import dataclass

# perfbench is imported before a side's tree goes on sys.path, so both sides
# of an A/B count with this tree's SparkCounters.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.trace import SparkCounters  # noqa: E402

PASSES = 3


@dataclass
class RunRecord:
    """One query run: phase walls and the ``SparkCounters.COUNTERS`` deltas
    of each phase."""

    construct_s: float
    execute_s: float
    construct: dict[str, float]
    execute: dict[str, float]

    @property
    def wall(self) -> float:
        return self.construct_s + self.execute_s


def warmup(spark, sf_dir: str) -> None:
    """Touch every table (page cache + parquet footers), then one tiny agg
    and join so shuffle machinery and codegen are warm before the first
    measured query (steady-state timing, not JVM cold start)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from icenetetl_spark.queries.icenet import _FIXTURE_PATH
    from icenetetl_spark.sources.testdata import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    # the flagship's fixture parquet is an input table too
    spark.read.parquet(_FIXTURE_PATH).count()

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
    ).count()
    li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    # one-time process machinery the tiny agg/join above doesn't reach —
    # each would otherwise bill its multi-second setup to whichever measured
    # query hits it first:
    # 1. the Arrow Python-worker pool (mapInPandas/pandas_udf queries),
    #    one worker per core
    slots = spark.sparkContext.defaultParallelism
    spark.range(64).repartition(slots).mapInPandas(
        lambda it: it, "id long"
    ).count()
    # 2. WindowExec + row_number codegen (top-k / sessionize / sequential id)
    li.limit(512).withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("l_returnflag").orderBy("l_orderkey")
        ),
    ).count()
    # 3. localCheckpoint block-manager path (prefix sums, star rounds)
    spark.range(128).localCheckpoint(eager=True).count()
    # 4. broadcast-exchange thread pool
    li.limit(256).join(
        F.broadcast(orders.limit(64)),
        li.l_orderkey == orders.o_orderkey,
        "left",
    ).count()


def run(spark, fn, sf_dir: str) -> RunRecord:
    """Build ``fn(spark, sf_dir)``, then materialize every column into the
    ``noop`` sink. Jobs the query runs while it is built (counts, collects,
    checkpoints) land in ``construct``; the sink's jobs in ``execute``. The
    counter reads between phases are outside both walls."""
    counters = SparkCounters(spark)
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    construct_s = time.perf_counter() - t0
    construct = counters.stop()
    counters.start()
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    execute_s = time.perf_counter() - t0
    return RunRecord(construct_s, execute_s, construct, counters.stop())


def interleave(
    spark, sides: list[str], names: list[str], reps: int
) -> dict[str, dict[str, float]]:
    """Median wall of each named registry query on each side (an sf_dir).
    After a warm-up on every side, each query runs ``reps`` + 1 rounds that
    alternate the sides, so ambient host noise hits every side of a ratio;
    the first round pays this plan's codegen and page cache and is
    dropped."""
    from icenetetl_spark.queries import all_queries

    for sf_dir in sides:
        warmup(spark, sf_dir)
    queries = all_queries()
    out: dict[str, dict[str, float]] = {sf_dir: {} for sf_dir in sides}
    for name in names:
        walls: dict[str, list[float]] = {sf_dir: [] for sf_dir in sides}
        for _ in range(reps + 1):
            for sf_dir in sides:
                walls[sf_dir].append(run(spark, queries[name], sf_dir).wall)
        for sf_dir, w in walls.items():
            out[sf_dir][name] = round(statistics.median(w[1:]), 3)
    return out


def main(tree: str, names: list[str]) -> None:
    sys.path.insert(0, tree)
    # a prior process's persisted fit artifacts must not decide whether a
    # *_trained query's first pass pays its fit (same as bench.py)
    os.environ["ICENETETL_FIT_CACHE_DIR"] = ""
    from icenetetl_spark.queries import all_queries
    from icenetetl_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("icenetetl-measure")
    warmup(spark, sf_dir)
    queries = all_queries()
    walls: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(PASSES):
        for name in names:
            walls[name].append(run(spark, queries[name], sf_dir).wall)
    spark.stop()
    out = {n: round(statistics.median(w), 3) for n, w in walls.items()}
    print("MEASURE " + json.dumps(out))


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2:])
