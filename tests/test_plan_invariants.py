"""Registry-wide physical-plan invariants: the scale rules that must hold
for EVERY registered query, enforced as a regression net (per-query plan
audits live in tools/audit_plans.py; this pins the two non-negotiables).

- No CartesianProduct: an unconstrained N x M join is never acceptable at
  100 TB. (BroadcastNestedLoopJoin is allowed — every use in this repo is
  a deliberate 1-row/k-row broadcast: scalar aggregates, centroid tables.)
- No BatchEvalPython: row-at-a-time Python UDFs are banned on every path;
  Python boundaries must be Arrow-batched (ArrowEvalPython/MapInPandas).
- No cartesian EVEN WITHOUT planner broadcasts: with
  autoBroadcastJoinThreshold=-1 the planner stops choosing broadcasts on
  its own, while explicit F.broadcast hints survive — so a plan that
  degrades to CartesianProduct under it was relying on OPPORTUNISTIC
  small-data broadcasts and would do the same on a real cluster once the
  "small" side's size estimate grows past the threshold. This is the
  test-size-runnable form of the 100x degradation the scale spot check
  caught on knn_bruteforce (SCALING.md) before its query side was pinned.
"""

from __future__ import annotations

import pytest

from icenetetl_spark.queries import all_queries

SF_DIR = "/root/testdata/sf0.001"  # plan shape is SF-independent


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_no_cartesian_and_no_row_python(spark, name):
    df = all_queries()[name](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_no_cartesian_without_planner_broadcasts(spark, name):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = all_queries()[name](spark, SF_DIR)
        plan = _plan(df)
        assert "CartesianProduct" not in plan, (
            f"{name}: becomes a cartesian product once the planner stops "
            "broadcasting on size estimates — pin the bounded side with "
            "an explicit F.broadcast"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


# Registry queries whose result rows come from operators.similarity.topk.
_TOPK_QUERIES = (
    "knn_bruteforce",
    "knn_bruteforce_prenorm",
    "knn_filtered",
    "knn_hyperplane_lsh",
    "knn_int8_topk",
    "knn_ivf",
    "knn_ivf_fixed",
    "knn_ivfpq_fixed",
    "knn_pq",
    "knn_pq_trained",
    "knn_sign_lsh",
    "knn_sign_lsh_multiprobe",
)


@pytest.mark.parametrize("name", _TOPK_QUERIES)
def test_per_query_topk_keeps_window_group_limit(spark, name):
    """Spark's InferWindowGroupLimit puts a partial WindowGroupLimit below
    the exchange of every per-query top-k window, so each map task ships
    at most k rows per query instead of every candidate. A ``topk`` the
    rule no longer recognizes (a ``rank()`` over a column computed after
    the join, a filter Catalyst cannot push) silently loses it."""
    plan = _plan(all_queries()[name](spark, SF_DIR))
    assert "WindowGroupLimit" in plan, f"{name}: top-k lost its group limit"
